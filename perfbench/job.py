"""The measured process of one benchmark run.

Started fresh by ``run.py`` after the inputs exist, so the first job
iteration runs in a cold JVM. It builds the session exactly as a user
does (``get_spark``), runs one workload for ``--seconds``, checks every
output outside the timed regions and writes ``result.json`` (and, when
traced, ``spans.json``) into the run directory.

Timed regions call only the package's public functions:

- ``e1_daily_append``: ``ingest_reports`` → ``write_parquet_idempotent``
  → ``write_csv(fresh)``, the reference's daily job.
- ``llm_corpus_ops``: registered keys, each collected with ``toPandas``.

With ``--trace 1`` each call into a layer runs inside a span that sets a
Spark job group, the event log is on, and after the job iterations the
layers are timed alone by forcing each call to a ``noop`` sink.
"""

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402
from contextlib import contextmanager  # noqa: E402

import corpus  # noqa: E402

#: llm keys timed by ``llm_corpus_ops``
LLM_KEYS = ("dedup_corpus_end2end", "embedding_neardup_lsh")
#: rounds of each single-layer probe in a traced run
PROBE_ROUNDS = 2
#: most settles ``live_heap_mb`` waits for the heap to stop falling
LIVE_HEAP_ROUNDS = 6
#: DuckDB oracle answers of the llm keys, kept across the runs of a checkout
ORACLE_CACHE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_runs", "oracles"
)


class Tracer:
    """Spans around calls into the package's layers. A span sets the
    Spark job group to its id, so the event log attributes each job to
    the innermost span that was open when it ran."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[tuple[str, str]] = []

    @contextmanager
    def span(self, name: str, run: str):
        if not self.enabled:
            yield
            return
        sid = f"s{len(self.spans) + len(self._stack)}-{name}"
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((sid, name))
        self.sc.setJobGroup(sid, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(*self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "run": run}
            )


def settle(spark, pause: float = 0.3) -> float:
    """Drain the previous iteration's JVM garbage and cleaner work
    before the next timed region (the ``bench.py`` settle, without
    its extra Spark job). Returns the heap still in use (MB)."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(pause)
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def live_heap_mb(spark) -> float:
    """The heap the session keeps alive (MB). The first gc only queues
    the collected plans' shuffles and broadcasts for Spark's
    ContextCleaner, whose thread frees their blocks later, so one
    settle reads 60-100 MB of them on top of the live heap, as many as
    the cleaner had not reached yet. Settle again, a second apart,
    until two readings agree."""
    prev = settle(spark)
    for _ in range(LIVE_HEAP_ROUNDS):
        cur = settle(spark, pause=1.0)
        if abs(cur - prev) < 1.0:
            break
        prev = cur
    return cur


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


class E1Workload:
    """The reference's daily job over a landing directory of reports:
    each iteration lands one new day and runs the job once."""

    #: job iterations after the cold one that are run but left out of
    #: warm_s (JIT warm-up still makes the second job ~15% slower than
    #: the later ones; the third is within ~5% of them)
    drop_warm = 1
    #: warm samples that enter warm_s at least, whatever --seconds says
    #: (a daily job is short and its time shifts with host load, so a
    #: run spans more of them)
    min_warm = 4

    def __init__(self, spark, rundir: str, manifest: dict, tracer: Tracer) -> None:
        from reports_generator_spark.config import ReportConfig

        self.spark = spark
        self.tracer = tracer
        self.rundir = rundir
        self.landing = manifest["landing"]
        self.incoming = manifest["incoming"]
        self.n_rec = manifest["records_per_report"]
        self.days: list[list[int]] = manifest["days"]
        self.landed = manifest["landed_days"]
        self.cfg = ReportConfig(
            input_dir=self.landing,
            output_parquet=os.path.join(rundir, "out", "parquet"),
            output_csv=os.path.join(rundir, "out", "csv"),
            generation_date=corpus.GEN_DATE,
        )
        self.info: list[dict] = []

    # ---- outside the timed region ------------------------------------
    def before(self) -> bool:
        """Land the next day; False when no day is left."""
        if self.landed >= len(self.days):
            return False
        name = corpus.DAY_DIR.format(self.landed)
        os.rename(os.path.join(self.incoming, name), os.path.join(self.landing, name))
        self.landed += 1
        self._csv_before = _part_files(self.cfg.output_csv)
        self._pq_before = _part_files(self.cfg.output_parquet)
        return True

    def records_in(self) -> int:
        """Records delivered for this job: the newly landed day's."""
        return len(self.days[self.landed - 1]) * self.n_rec

    # ---- timed ---------------------------------------------------------
    def run(self, run_id: str) -> None:
        from reports_generator_spark.ingest import (
            ingest_reports,
            write_csv,
            write_parquet_idempotent,
        )

        with self.tracer.span("ingest.reports.ingest_reports", run_id):
            df = ingest_reports(self.spark, self.cfg)
        with self.tracer.span("ingest.sinks.write_parquet_idempotent", run_id):
            fresh = write_parquet_idempotent(self.spark, df, self.cfg.output_parquet)
        with self.tracer.span("ingest.sinks.write_csv", run_id):
            write_csv(fresh, self.cfg.output_csv)

    # ---- checks (outside the timed region) ----------------------------
    def check(self) -> list[str]:
        """Compare this job's output with the golden rows. The parquet
        sink must hold every distinct report delivered so far exactly
        once; the files this job added to each sink must hold exactly
        the new day's rows."""
        import pyarrow.parquet as pq

        errors: list[str] = []
        delivered_days = range(self.landed)
        want_new = Counter(
            corpus.golden_rows(self.landed - 1, self.days[self.landed - 1], self.n_rec)
        )
        keys = pq.read_table(
            self.cfg.output_parquet, columns=["RUTA_DE_REPORTE", "ARCHIVO_PROCESADO"]
        ).to_pydict()
        want_total = sum(len(self.days[d]) for d in delivered_days) * self.n_rec
        pairs = Counter(zip(keys["RUTA_DE_REPORTE"], keys["ARCHIVO_PROCESADO"]))
        if len(pairs) != sum(pairs.values()):
            errors.append(f"parquet sink holds {sum(pairs.values()) - len(pairs)} duplicate rows")
        if sum(pairs.values()) != want_total:
            errors.append(f"parquet sink holds {sum(pairs.values())} rows, want {want_total}")
        reports = {_relpath(p) for p, _ in pairs}
        want_reports = {corpus.report_relpath(d, f) for d in delivered_days for f in self.days[d]}
        if reports != want_reports:
            errors.append(
                f"parquet sink reports differ from delivered ({len(reports)} vs {len(want_reports)})"
            )
        new_pq = sorted(_part_files(self.cfg.output_parquet) - self._pq_before)
        new_csv = sorted(_part_files(self.cfg.output_csv) - self._csv_before)
        for kind, files in (("parquet", new_pq), ("csv", new_csv)):
            got = Counter(_rows(files, kind))
            if got != want_new:
                errors.append(
                    f"{kind} rows written by this job differ from golden "
                    f"({sum(got.values())} rows vs {sum(want_new.values())})"
                )
        self.info.append(
            {
                "history_keys": len(want_reports) - len(self.days[self.landed - 1]),
                "files_written": len(new_pq) + len(new_csv),
                "reports_in_landing": corpus.count_reports(self.landing),
            }
        )
        return errors

    # ---- single-layer probes (traced runs only) ------------------------
    def probes(self) -> dict[str, list[float]]:
        """Each layer alone: building the line frame (the file listing
        runs on the driver here), then, forced to a noop sink, the scan,
        the scan plus block parsing, and the whole ingest. Parse and
        project times are the differences of these forced prefixes.
        Last, the two sinks alone: the last job's writes, repeated on a
        checkpointed ingest against a copy of the sink as that job
        found it."""
        from reports_generator_spark.ingest import (
            ingest_reports,
            read_report_lines,
            write_csv,
            write_parquet_idempotent,
        )
        from reports_generator_spark.ingest.reports import parse_blocks

        out: dict[str, list[float]] = {
            "list": [], "sources": [], "parse": [], "ingest": [], "parquet": [], "csv": []
        }
        cfg = self.cfg
        for r in range(PROBE_ROUNDS):
            settle(self.spark)
            with self.tracer.span("sources.read_report_lines", f"probe{r}"):
                dt, lines = timed(lambda: read_report_lines(self.spark, cfg))
            out["list"].append(dt)
            with self.tracer.span("sources.read_report_lines.forced", f"probe{r}"):
                out["sources"].append(timed(lambda: noop(lines))[0])
            # each prefix is planned before its clock starts, as the
            # job plans its ingest before the sinks run it
            # (ingest.reports.plan_build_s); the parse prefix keeps only
            # the block columns the projection reads, so it prunes like
            # the whole ingest does
            blocks = parse_blocks(read_report_lines(self.spark, cfg), cfg).select(
                "report_path", "vals", "any_parquet"
            )
            settle(self.spark)
            with self.tracer.span("ingest.reports.parse_blocks.forced", f"probe{r}"):
                out["parse"].append(timed(lambda: noop(blocks))[0])
            records = ingest_reports(self.spark, cfg)
            settle(self.spark)
            with self.tracer.span("ingest.reports.ingest_reports.forced", f"probe{r}"):
                out["ingest"].append(timed(lambda: noop(records))[0])
            sink = os.path.join(self.rundir, "probe", str(r))
            os.makedirs(os.path.join(sink, "parquet"))
            for f in self._pq_before:
                shutil.copy(f, os.path.join(sink, "parquet"))
            with self.tracer.span("bench.prepare", f"probe{r}"):
                df = records.localCheckpoint()
            settle(self.spark)
            with self.tracer.span("ingest.sinks.write_parquet_idempotent", f"probe{r}"):
                dt, fresh = timed(lambda: write_parquet_idempotent(
                    self.spark, df, os.path.join(sink, "parquet")))
            out["parquet"].append(dt)
            with self.tracer.span("ingest.sinks.write_csv", f"probe{r}"):
                out["csv"].append(timed(lambda: write_csv(fresh, os.path.join(sink, "csv")))[0])
            shutil.rmtree(sink)
        return out


class LlmWorkload:
    """Registered LLM-data keys over the generated corpus, each checked
    against its DuckDB oracle."""

    # an iteration costs 8-12 s here, so two warm samples keep a run
    # within its time budget (the third and fourth job, which agree
    # within ~10%; the second is ~25% slower)
    drop_warm = 1
    min_warm = 2

    def __init__(self, spark, rundir: str, manifest: dict, tracer: Tracer) -> None:
        import duckdb

        from reports_generator_spark.plans import dedup, registry, similarity  # noqa: F401

        self.spark = spark
        self.tracer = tracer
        self.sf_dir = manifest["sf_dir"]
        self.registry = registry
        self.n_docs = manifest["tables"]["documents"]
        # the oracle answers depend only on the logical corpus (the same
        # on every seed), the oracle SQL and DuckDB, so a checkout
        # computes them once and keeps them under that key
        oracles = [registry.ORACLES[k] for k in LLM_KEYS]
        key = hashlib.sha256(
            json.dumps([manifest["digest"], duckdb.__version__, oracles]).encode()
        ).hexdigest()
        cache = os.path.join(ORACLE_CACHE, f"{key}.pickle")
        if os.path.exists(cache):
            with open(cache, "rb") as fh:
                self.expected = pickle.load(fh)
        else:
            con = duckdb.connect()
            con.execute("SET enable_progress_bar = false")
            for t in manifest["tables"]:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet/*.parquet')"
                )
            self.expected = {
                k: _norm_frame(con.execute(sql).fetchdf()) for k, sql in zip(LLM_KEYS, oracles)
            }
            con.close()
            os.makedirs(ORACLE_CACHE, exist_ok=True)
            with open(f"{cache}.{os.getpid()}", "wb") as fh:
                pickle.dump(self.expected, fh)
            os.replace(f"{cache}.{os.getpid()}", cache)
        self.results: dict[str, object] = {}

    def before(self) -> bool:
        return True

    def records_in(self) -> int:
        return self.n_docs

    def run(self, run_id: str) -> None:
        self.results = {}
        for k in LLM_KEYS:
            with self.tracer.span(f"plans.{k}", run_id):
                self.results[k] = self.registry.QUERIES[k](self.spark, self.sf_dir).toPandas()

    def check(self) -> list[str]:
        errors = []
        for k in LLM_KEYS:
            got = _norm_frame(self.results[k])
            if got != self.expected[k]:
                errors.append(f"{k}: output differs from its DuckDB oracle")
        return errors

    def probes(self) -> dict[str, list[float]]:
        """The three operators under the keys, alone on the same corpus,
        each forced with ``count()``; returns times and counts."""
        from reports_generator_spark.operators.dedup import dedup_ngram_jaccard
        from reports_generator_spark.operators.graph import connected_components
        from reports_generator_spark.operators.similarity import embedding_neardup_lsh
        from reports_generator_spark.sources import load_table

        with self.tracer.span("bench.prepare", "probe"):
            docs = load_table(self.spark, self.sf_dir, "documents")
            emb = load_table(self.spark, self.sf_dir, "embeddings")
        out: dict[str, list[float]] = {
            "dedup": [], "graph": [], "similarity": [], "pairs": [], "nodes": [], "sim_pairs": []
        }
        for r in range(PROBE_ROUNDS):
            settle(self.spark)
            with self.tracer.span("operators.dedup.dedup_ngram_jaccard", f"probe{r}"):
                t = time.perf_counter()
                pairs_df = dedup_ngram_jaccard(docs, "doc_id", "text", 3, 0.2, max_shingle_df=100)
                n = pairs_df.count()
                out["dedup"].append(time.perf_counter() - t)
            out["pairs"].append(n)
            with self.tracer.span("bench.prepare", f"probe{r}"):
                pairs = pairs_df.select("id_a", "id_b").localCheckpoint()
            settle(self.spark)
            with self.tracer.span("operators.graph.connected_components", f"probe{r}"):
                dt, n = timed(lambda: connected_components(pairs, src="id_a", dst="id_b").count())
            out["graph"].append(dt)
            out["nodes"].append(n)
            settle(self.spark)
            with self.tracer.span("operators.similarity.embedding_neardup_lsh", f"probe{r}"):
                dt, n = timed(lambda: embedding_neardup_lsh(emb, threshold=0.38).count())
            out["similarity"].append(dt)
            out["sim_pairs"].append(n)
        return out


def _part_files(path: str) -> set[str]:
    if not os.path.isdir(path):
        return set()
    return {
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.startswith("part-") and (f.endswith(".parquet") or f.endswith(".csv"))
    }


def _relpath(ruta: str) -> str:
    """RUTA_DE_REPORTE (a file URI) → ``day_NNN/<file name>``."""
    return "/".join(ruta.rsplit("/", 2)[-2:])


def _rows(files: list[str], kind: str):
    """ERP rows of some sink part files, RUTA reduced to its relpath."""
    import pyarrow as pa
    import pyarrow.csv as pacsv
    import pyarrow.parquet as pq

    from reports_generator_spark.config import ERP_HEADERS

    for f in files:
        if kind == "parquet":
            t = pq.read_table(f)
        else:
            t = pacsv.read_csv(
                f,
                convert_options=pacsv.ConvertOptions(
                    column_types={h: pa.string() for h in ERP_HEADERS},
                    strings_can_be_null=False,
                    quoted_strings_can_be_null=False,
                ),
            )
        cols = t.select(list(ERP_HEADERS)).to_pydict()
        cols["RUTA_DE_REPORTE"] = [_relpath(p) for p in cols["RUTA_DE_REPORTE"]]
        yield from zip(*(cols[h] for h in ERP_HEADERS))


def _norm_cell(v):
    """One cell as the repository's oracle comparator normalizes it."""
    import math

    if v is None:
        return None
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v + 0.0, 9)
        return int(r) if r == int(r) and abs(r) < 2**53 else r
    if isinstance(v, bool):
        return int(v)
    return v


def _norm_frame(pdf) -> tuple:
    """Order-insensitive, column-name-sorted value form of a result."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(_norm_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)),
        key=repr,
    )
    return (tuple(cols), tuple(rows))


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the session's JVM (local mode: driver = executors)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rundir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(args.rundir, "manifest.json")) as fh:
        manifest = json.load(fh)

    from reports_generator_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(args.rundir, "warehouse"),
        "spark.local.dir": os.path.join(args.rundir, "tmp", "spark-local"),
        # the heap grows as the jobs need it, but the full gc of
        # settle() must not shrink it again (the next job would pay to
        # regrow it, and a daily job's JVM runs no such gc)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(args.rundir, 'tmp')} -XX:MaxHeapFreeRatio=100"
        ),
    }
    if args.trace:
        os.makedirs(os.path.join(args.rundir, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(args.rundir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.perf_counter()
    tracer = Tracer(spark.sparkContext, bool(args.trace))
    with tracer.span("session.first_action", "setup"):
        spark.range(0, 1000, numPartitions=int(cpus)).selectExpr("sum(id)").collect()
    t_ready = time.perf_counter()
    session = {
        "setup_s": t_ready - T_PROC,
        "get_spark_s": t_session - T_PROC,
        "first_action_s": t_ready - t_session,
    }

    wl_cls = LlmWorkload if manifest["workload"] == "llm_corpus_ops" else E1Workload
    wl = wl_cls(spark, args.rundir, manifest, tracer)

    times: list[float] = []
    records: list[int] = []
    attempted = failed = 0
    errors: list[str] = []
    # the session's listener state grows with every job, so the live
    # heap is read at the same job count in every run: after the jobs
    # that every run makes, whatever --seconds lets follow them
    heap_at = 1 + wl.drop_warm + wl.min_warm
    heap_live = None
    n_ops = len(LLM_KEYS) if wl_cls is LlmWorkload else 1
    t_measure = time.perf_counter()
    i = 0
    while True:
        warm = max(0, i - 1 - wl.drop_warm)
        if i > 0 and warm >= wl.min_warm and time.perf_counter() - t_measure >= args.seconds:
            break
        if not wl.before():
            break
        if i == heap_at:
            heap_live = live_heap_mb(spark)
        elif i > 0:
            settle(spark)
        run_id = f"it{i}"
        t = time.perf_counter()
        try:
            with tracer.span("job", run_id):
                wl.run(run_id)
            dt = time.perf_counter() - t
            errs = wl.check()
        except Exception as exc:  # a failing job is counted, not fatal
            dt = time.perf_counter() - t
            traceback.print_exc()
            errs = [f"{type(exc).__name__}: {exc}"]
        attempted += n_ops
        failed += min(n_ops, len(errs))
        errors.extend(f"{run_id}: {e}" for e in errs)
        times.append(dt)
        records.append(wl.records_in())
        i += 1

    if heap_live is None:  # the run ended right after the jobs every run makes
        heap_live = live_heap_mb(spark)
    heap = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    out = {
        "heap_live_mb": heap_live,
        "heap_committed_mb": heap.getHeapMemoryUsage().getCommitted() / 2**20,
        "session": session,
        "times": times,
        "records": records,
        "attempted": attempted,
        "failed": failed,
        "errors": errors[:20],
        "drop_warm": wl.drop_warm,
        "cores": int(cpus),
        "llm_keys": LLM_KEYS,
    }
    if wl_cls is E1Workload:
        out["job_info"] = wl.info
    if args.trace:
        out["probes"] = wl.probes()
    out["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    spark.stop()
    with open(os.path.join(args.rundir, "spans.json"), "w") as fh:
        json.dump(tracer.spans, fh)
    with open(os.path.join(args.rundir, "result.json"), "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    sys.exit(main())

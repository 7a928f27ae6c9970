"""Offline reader: Spark event log + benchmark spans → per-layer metrics.

A traced run (``job.py --trace 1``) writes an uncompressed, non-rolling
event log and ``spans.json``. Each span set the Spark job group to its
id, so ``JobStart.Properties['spark.jobGroup.id']`` names the span a job
ran in. Task metrics (run time, CPU, GC, shuffle, spill, I/O) are
summed per span from ``TaskEnd``. The last SQL plan of each execution
(``SQLExecutionStart``, then each adaptive re-plan) gives the number of
report-file scans per job and, with the task accumulator updates, the
records the program parsed.
"""

from __future__ import annotations

import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
#: layers, as span-name prefixes (the longest matching prefix wins)
LAYERS = (
    "session",
    "sources",
    "ingest.reports",
    "ingest.sinks",
    "operators.dedup",
    "operators.graph",
    "operators.similarity",
    "plans",
)


class SpanStats:
    """Additive event-log sums over one or more spans."""

    FIELDS = ("wall", "busy", "run", "cpu", "gc", "shuffle_read", "shuffle_write",
              "spill", "input", "output", "records_out", "tasks", "jobs", "stages", "scans",
              "parsed")

    def __init__(self) -> None:
        for f in self.FIELDS:
            setattr(self, f, 0.0)
        self.max_task_share = 0.0

    def __add__(self, o: "SpanStats") -> "SpanStats":
        r = SpanStats()
        for f in self.FIELDS:
            setattr(r, f, getattr(self, f) + getattr(o, f))
        r.max_task_share = max(self.max_task_share, o.max_task_share)
        return r

    def __sub__(self, o: "SpanStats") -> "SpanStats":
        r = SpanStats()
        for f in self.FIELDS:
            setattr(r, f, getattr(self, f) - getattr(o, f))
        r.max_task_share = self.max_task_share
        return r

    def scaled(self, k: float) -> "SpanStats":
        r = SpanStats()
        for f in self.FIELDS:
            setattr(r, f, getattr(self, f) * k)
        r.max_task_share = self.max_task_share
        return r

    def layer_metrics(self, cores: int) -> dict[str, float]:
        return {
            "task_cpu_s": self.cpu,
            "gc_s": self.gc,
            "shuffle_read_bytes": self.shuffle_read,
            "spill_bytes": self.spill,
            "parallel_eff": self.run / (self.wall * cores) if self.wall > 0 else 0.0,
            "driver_gap_s": self.wall - self.busy,
        }


def _scan_count(plan: dict, prefix: str = "Scan text") -> int:
    return int(plan.get("nodeName", "").startswith(prefix)) + sum(
        _scan_count(c, prefix) for c in plan.get("children", [])
    )


def _parsed_row_metrics(plan: dict) -> list[int]:
    """Accumulator ids of the rows the plan parses out of report text:
    the "number of output rows" of each topmost aggregate that has a
    text scan below it (the block assembly of ``parse_blocks``)."""
    if "Aggregate" in plan.get("nodeName", "") and _scan_count(plan):
        return [
            m["accumulatorId"] for m in plan.get("metrics", [])
            if m["name"] == "number of output rows"
        ][:1]
    return [a for c in plan.get("children", []) for a in _parsed_row_metrics(c)]


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class EventLog:
    def __init__(self, rundir: str) -> None:
        d = os.path.join(rundir, "eventlog")
        (name,) = os.listdir(d)
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        plans: dict[str, dict] = {}
        accums: dict[int, int] = {}
        with open(os.path.join(d, name)) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    self.jobs[e["Job ID"]] = {
                        "group": e["Properties"].get("spark.jobGroup.id"),
                        "exec": e["Properties"].get("spark.sql.execution.id"),
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": set(),
                        "tasks": [],
                    }
                    for s in e["Stage IDs"]:
                        self.stage_job[s] = e["Job ID"]
                elif ev == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    self.stages[si["Stage ID"]] = {
                        "wall": (si["Completion Time"] - si["Submission Time"]) / 1000.0,
                        "max_task": 0.0,
                    }
                elif ev == "SparkListenerTaskEnd" and "Task Metrics" in e:
                    job = self.jobs[self.stage_job[e["Stage ID"]]]
                    job["stages"].add(e["Stage ID"])
                    job["tasks"].append((e["Stage ID"], e["Task Info"], e["Task Metrics"]))
                    for a in e["Task Info"].get("Accumulables", []):
                        if a.get("Metadata") == "sql":  # SQL metrics log numbers as strings
                            accums[a["ID"]] = accums.get(a["ID"], 0) + int(a["Update"])
                elif ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    plans[str(e["executionId"])] = e["sparkPlanInfo"]
        self.exec_scans = {x: _scan_count(p) for x, p in plans.items()}
        self.exec_parsed = {
            x: sum(accums.get(a, 0) for a in _parsed_row_metrics(p)) for x, p in plans.items()
        }
        for job in self.jobs.values():
            for sid, info, _ in job["tasks"]:
                st = self.stages.get(sid)
                if st is not None:
                    task_s = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    st["max_task"] = max(st["max_task"], task_s)

    def span_stats(self, span: dict) -> SpanStats:
        s = SpanStats()
        s.wall = span["end"] - span["start"]
        jobs = [j for j in self.jobs.values() if j["group"] == span["id"]]
        s.jobs = len(jobs)
        s.busy = _union_len([(j["start"], j["end"] or span["end"]) for j in jobs])
        execs = {j["exec"] for j in jobs if j["exec"] is not None}
        s.scans = sum(self.exec_scans.get(x, 0) for x in execs)
        s.parsed = sum(self.exec_parsed.get(x, 0) for x in execs)
        longest_stage = None
        for j in jobs:
            s.stages += len(j["stages"])
            for sid in j["stages"]:
                st = self.stages.get(sid)
                if st and (longest_stage is None or st["wall"] > longest_stage["wall"]):
                    longest_stage = st
            for _, _, m in j["tasks"]:
                s.tasks += 1
                s.run += m["Executor Run Time"] / 1000.0
                s.cpu += m["Executor CPU Time"] / 1e9
                s.gc += m["JVM GC Time"] / 1000.0
                sr = m["Shuffle Read Metrics"]
                s.shuffle_read += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                s.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                s.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                s.input += m["Input Metrics"]["Bytes Read"]
                s.output += m["Output Metrics"]["Bytes Written"]
                s.records_out += m["Output Metrics"]["Records Written"]
        if longest_stage and longest_stage["wall"] > 0:
            s.max_task_share = longest_stage["max_task"] / longest_stage["wall"]
        return s

    def unattributed_jobs(self, span_ids: set[str]) -> int:
        return sum(1 for j in self.jobs.values() if j["group"] not in span_ids)


def _layer(name: str) -> str:
    """The layer a span name belongs to ('' for the benchmark's own)."""
    return max(
        (lay for lay in LAYERS if name == lay or name.startswith(lay + ".")), key=len, default=""
    )


def per_layer(rundir: str, workload: str, res: dict) -> dict[str, dict]:
    """Per-layer metrics of a traced run (name → {value, unit})."""
    with open(os.path.join(rundir, "spans.json")) as fh:
        spans = json.load(fh)
    log = EventLog(rundir)
    cores = res["cores"]
    first_warm = 1 + res["drop_warm"]
    warm_runs = {f"it{i}" for i in range(first_warm, len(res["times"]))}
    med = statistics.median

    def per_run(name_pred, runs=warm_runs) -> SpanStats:
        """Sum of the matching spans, averaged over the given runs."""
        acc = SpanStats()
        for s in spans:
            if s["run"] in runs and name_pred(s["name"]):
                acc = acc + log.span_stats(s)
        return acc.scaled(1.0 / max(1, len(runs)))

    def walls(name: str, runs=warm_runs) -> list[float]:
        return [s["end"] - s["start"] for s in spans if s["name"] == name and s["run"] in runs]

    # probe rounds are "probe0", "probe1", ...; a bare "probe" run only prepares inputs
    probe_runs = {s["run"] for s in spans if s["run"].startswith("probe") and s["run"][5:]}
    out: dict[str, tuple[float, str]] = {}
    warm_s = med(res["times"][first_warm:])
    out["session.get_spark_s"] = (res["session"]["get_spark_s"], "s")
    out["session.first_action_s"] = (res["session"]["first_action_s"], "s")
    out["session.codegen_premium_s"] = (res["times"][0] - warm_s, "s")
    out["session.jvm_peak_rss_mb"] = (res["jvm_peak_rss_mb"], "MB")
    out["session.heap_committed_mb"] = (res["heap_committed_mb"], "MB")
    out["trace.warm_s"] = (warm_s, "s")
    out["trace.unattributed_jobs"] = (log.unattributed_jobs({s["id"] for s in spans}), "count")

    layer_stats: dict[str, SpanStats] = {
        "session": per_run(lambda n: n == "session.first_action", {"setup"}),
    }
    if workload == "e1_daily_append":
        probes = res["probes"]
        info = res["job_info"][first_warm:]
        src_t, parse_t, ing_t, pq_t, csv_t = (
            med(probes[k]) for k in ("sources", "parse", "ingest", "parquet", "csv")
        )
        src = per_run(lambda n: n == "sources.read_report_lines.forced", probe_runs)
        parse = per_run(lambda n: n == "ingest.reports.parse_blocks.forced", probe_runs)
        ingest = per_run(lambda n: n == "ingest.reports.ingest_reports.forced", probe_runs)
        sinks = per_run(lambda n: _layer(n) == "ingest.sinks", probe_runs)
        # what the jobs themselves scanned, parsed and appended
        in_job = per_run(lambda n: _layer(n) == "ingest.sinks")
        appended = per_run(lambda n: n == "ingest.sinks.write_parquet_idempotent").records_out
        layer_stats.update({"sources": src, "ingest.reports": ingest - src, "ingest.sinks": sinks})
        plan_t = med(walls("ingest.reports.ingest_reports"))
        # a job = the ingest plan, one lazy ingest pass per scan, and the
        # sinks' own work; what these layer times leave of the job wall
        # is unattributed
        layers_t = plan_t + in_job.scans * ing_t + pq_t + csv_t
        out.update(
            {
                "trace.unattributed_s": (warm_s - layers_t, "s"),
                "sources.read_report_lines_s": (src_t, "s"),
                "sources.list_s": (med(probes["list"]), "s"),
                "sources.files": (med([i["reports_in_landing"] for i in info]), "count"),
                "sources.input_bytes": (src.input, "bytes"),
                "sources.scan_tasks": (src.tasks, "count"),
                "sources.scans_per_job": (in_job.scans, "count"),
                "ingest.reports.plan_build_s": (plan_t, "s"),
                "ingest.reports.parse_blocks_s": (parse_t - src_t, "s"),
                "ingest.reports.project_blocks_s": (ing_t - parse_t, "s"),
                "ingest.reports.records_parsed": (in_job.parsed, "count"),
                "ingest.reports.shuffle_write_bytes": (parse.shuffle_write, "bytes"),
                "ingest.reports.max_task_share": (parse.max_task_share, "ratio"),
                # 0 when no plan shows a block-assembly aggregate over a text scan
                "ingest.reports.useful_ratio": (
                    appended / in_job.parsed if in_job.parsed else 0.0, "ratio"),
                "ingest.sinks.write_parquet_idempotent_s": (pq_t, "s"),
                "ingest.sinks.write_csv_s": (csv_t, "s"),
                "ingest.sinks.history_keys": (med([i["history_keys"] for i in info]), "count"),
                "ingest.sinks.rows_written": (sinks.records_out, "count"),
                "ingest.sinks.files_written": (med([i["files_written"] for i in info]), "count"),
                "ingest.sinks.bytes_written": (sinks.output, "bytes"),
            }
        )
    else:
        for k in res["llm_keys"]:
            key = per_run(lambda n, k=k: n == f"plans.{k}")
            out[f"plans.{k}_s"] = (med(walls(f"plans.{k}")), "s")
            out[f"plans.{k}.jobs"] = (key.jobs, "count")
            out[f"plans.{k}.stages"] = (key.stages, "count")
            out[f"plans.{k}.tasks"] = (key.tasks, "count")
        layers_t = sum(out[f"plans.{k}_s"][0] for k in res["llm_keys"])
        out["trace.unattributed_s"] = (warm_s - layers_t, "s")
        layer_stats["plans"] = per_run(lambda n: _layer(n) == "plans")
        ops = (
            ("operators.dedup", "dedup_ngram_jaccard", "dedup", "pairs", "pairs"),
            ("operators.graph", "connected_components", "graph", "nodes", "nodes"),
            ("operators.similarity", "embedding_neardup_lsh", "similarity", "sim_pairs", "pairs"),
        )
        for layer, fn, tkey, ckey, cname in ops:
            out[f"{layer}.{fn}_s"] = (med(res["probes"][tkey]), "s")
            out[f"{layer}.{cname}"] = (med(res["probes"][ckey]), "count")
            layer_stats[layer] = per_run(lambda n, layer=layer: _layer(n) == layer, probe_runs)
    unit = {"parallel_eff": "ratio", "shuffle_read_bytes": "bytes", "spill_bytes": "bytes"}
    for layer, st in layer_stats.items():
        for stat, v in st.layer_metrics(cores).items():
            out[f"{layer}.{stat}"] = (v, unit.get(stat, "s"))
    return _declared(out)


def _declared(out: dict[str, tuple[float, str]]) -> dict[str, dict]:
    """Every per-layer metric BENCHMARK.json declares, in its order;
    metrics of layers this workload does not run read 0."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    extra = set(out) - set(declared)
    if extra:
        raise ValueError(f"per-layer metrics missing from BENCHMARK.json: {sorted(extra)}")
    return {n: {"value": out.get(n, (0, u))[0], "unit": u} for n, u in declared.items()}

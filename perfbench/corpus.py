"""Seeded inputs for the benchmark workloads (pure Python, no Spark).

E1 reports reuse the package's fixture grammar (``INPUT_KEYS``,
``block_values``, ``report_file_name``) but lay the files out one day
directory each, so file paths stay distinct at any volume (the stock
``write_report_files`` puts every file into two directories, and its
names repeat every 420 files). The golden rows mirror
``ingest.golden.expected_erp_rows`` for arbitrary file indices.

The LLM corpus is a fixed logical table with the schema, sizes and
statistics of the sf0.1 ``documents`` / ``embeddings`` tables (measured
values in ``METRICS.md``). The seed only permutes which rows land in
which of the parquet part files, so the DuckDB oracles see the same
logical data on every seed.
"""

from __future__ import annotations

import hashlib
import os
import random

from reports_generator_spark.config import ERP_HEADERS, ReportConfig
from reports_generator_spark.ingest.fixtures import (
    INPUT_KEYS,
    block_values,
    report_file_name,
)

#: e1_daily_append: the landing dir is preloaded with PRELOAD_DAYS days
#: of REPORTS_PER_DAY reports (and the sink with their rows); each timed
#: iteration lands one more day
REPORTS_PER_DAY = 40
RECORDS_PER_REPORT = 25
PRELOAD_DAYS = 8
#: days generated in all; a run stops landing days when they run out
MAX_DAYS = 16

#: generation date stamped on every output row (the job's run date)
GEN_DATE = "2026-01-01 00:00:00"

#: a file index's day directory name
DAY_DIR = "day_{:03d}"

#: sf0.1 documents / embeddings: 5,000 docs of 10-100 words drawn
#: uniformly from a 30-word vocabulary, 5% of them an exact copy of
#: another doc plus the word "dup"; 2,000 unit vectors of 64 i.i.d.
#: normal components with a uniform label 0-9
LLM_DOCS = 5000
LLM_VECS = 2000
LLM_DIM = 64
LLM_DUP_SHARE = 0.05
LLM_PARTS = 4
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
#: lang shares of sf0.1 (en 41%, the four others 14-15% each)
_LANGS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}
#: the logical LLM corpus is fixed; only its physical layout is seeded
_LLM_CONTENT_SEED = 20160315


def _file_indices(seed: int, n: int) -> list[int]:
    """``n`` distinct file indices for a seed, all six digits wide so
    every seed writes records of the same byte length."""
    base = 100_000 + random.Random(seed).randrange(0, 800) * 1000
    return list(range(base, base + n))


def write_report(path: str, file_idx: int, n_records: int) -> None:
    """Write one report file in the fixture grammar."""
    lines: list[str] = []
    for blk in range(n_records):
        vals = block_values(file_idx, blk)
        lines.extend(f"{k}: {vals[k]}" for k in INPUT_KEYS)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")


def report_relpath(day: int, file_idx: int) -> str:
    return f"{DAY_DIR.format(day)}/{report_file_name(file_idx)}"


def write_day(root: str, day: int, indices: list[int], n_records: int) -> None:
    """Write one day directory of reports. Raises if two reports of the
    day would share a path."""
    d = os.path.join(root, DAY_DIR.format(day))
    os.makedirs(d, exist_ok=True)
    names = {report_file_name(i) for i in indices}
    if len(names) != len(indices):
        raise ValueError(f"day {day}: {len(indices)} reports but {len(names)} names")
    for i in indices:
        write_report(os.path.join(d, report_file_name(i)), i, n_records)


def e1_days(seed: int) -> list[list[int]]:
    """File indices per day directory."""
    per_day = REPORTS_PER_DAY
    idx = _file_indices(seed, per_day * MAX_DAYS)
    days = [idx[d * per_day : (d + 1) * per_day] for d in range(MAX_DAYS)]
    # contiguous indices keep a day's file names distinct; the seed
    # decides which block lands on which day
    random.Random(seed).shuffle(days)
    return days


def count_reports(root: str, ext: str = ".TXT") -> int:
    return sum(
        1 for _, _, files in os.walk(root) for f in files if f.endswith(ext)
    )


def golden_rows(day: int, indices: list[int], n_records: int) -> list[tuple[str, ...]]:
    """Expected ERP rows (27 strings, ``ERP_HEADERS`` order) for one day
    directory, with RUTA_DE_REPORTE reduced to ``day_NNN/<file name>``.
    Same derivation as ``ingest.golden.expected_erp_rows``."""
    cfg = ReportConfig(input_dir="", output_parquet="", output_csv="")
    rows = []
    for f in indices:
        gen_ts = f"{(f % 28) + 1:02d}-{(f % 12) + 1:02d}-2019T13_{f % 60:02d}_30"
        path = report_relpath(day, f)
        for b in range(n_records):
            v = block_values(f, b)
            bb = f * 1000 + b
            rows.append(
                (
                    "ERP",
                    cfg.report_type_message if bb % 2 == 0 else "",
                    path,
                    gen_ts,
                    v["file"],
                    v["tableNameFromFile"],
                    v["tableNameFromJson"],
                    v["headersFromJson"],
                    v["countHeadersFromJson"],
                    v["countHeadersFromFile"],
                    v["headersFromFile"],
                    "SI" if v["equalsHeaders"] == "true" else "NO",
                    v["fileDirectory"],
                    v["filePath"],
                    v["fileSize"],
                    v["fileValidSha"],
                    v["fileColForSchema"],
                    v["fileTableName"],
                    v["fileColForPathTable"],
                    v["fileAntColForCountColumns"],
                    v["fileAntColForCountRows"],
                    v["fileColForCountColumns"],
                    v["fileColForCountRows"],
                    str(int(v["fileAntColForCountColumns"]) - int(v["fileColForCountColumns"])),
                    str(int(v["fileAntColForCountRows"]) - int(v["fileColForCountRows"])),
                    v["status"],
                    GEN_DATE,
                )
            )
    return rows


def _llm_tables():
    """The fixed logical LLM corpus as two pyarrow tables."""
    import numpy as np
    import pyarrow as pa

    rng = random.Random(_LLM_CONTENT_SEED)
    texts = [
        " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100)))
        for _ in range(LLM_DOCS)
    ]
    # near duplicates: a doc replaced by another doc's original text + " dup"
    base = list(texts)
    for i in rng.sample(range(LLM_DOCS), int(LLM_DOCS * LLM_DUP_SHARE)):
        j = rng.randrange(LLM_DOCS - 1)
        j += j >= i
        texts[i] = base[j] + " dup"
    langs = rng.choices(list(_LANGS), weights=list(_LANGS.values()), k=LLM_DOCS)
    docs = pa.table(
        {
            "doc_id": pa.array(range(LLM_DOCS), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(LLM_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    gen = np.random.default_rng(_LLM_CONTENT_SEED)
    x = gen.standard_normal((LLM_VECS, LLM_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(LLM_VECS), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(gen.integers(0, 10, LLM_VECS), pa.int32()),
        }
    )
    return {"documents": docs, "embeddings": emb}


def write_llm_corpus(sf_dir: str, seed: int) -> tuple[dict[str, int], str]:
    """Write ``<sf_dir>/<table>.parquet/part-*.parquet`` with seeded row
    order; returns rows per table and a digest of the logical corpus
    (the same on every seed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    out = {}
    digest = hashlib.sha256()
    for name, table in _llm_tables().items():
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        digest.update(name.encode() + sink.getvalue().to_pybytes())
        order = list(range(table.num_rows))
        rng.shuffle(order)
        table = table.take(order)
        d = os.path.join(sf_dir, f"{name}.parquet")
        os.makedirs(d)
        # a fixed number of equal parts: the seed moves rows between
        # files but never changes how many input splits a scan gets
        step = -(-table.num_rows // LLM_PARTS)
        for p in range(LLM_PARTS):
            pq.write_table(table.slice(p * step, step), os.path.join(d, f"part-{p:03d}.parquet"))
        out[name] = table.num_rows
    return out, digest.hexdigest()


def _history_sink(
    path: str, days: list[list[int]], n_days: int, n_records: int, landing: str
) -> int:
    """The daily job's sink as yesterday's runs left it: the golden ERP
    rows of the first ``n_days`` days, with RUTA_DE_REPORTE in the form
    the ingest writes (the decoded ``file:`` URI of the report)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    uri = "file://" + os.path.abspath(landing) + "/"
    os.makedirs(path)
    n = 0
    for d in range(n_days):
        rows = golden_rows(d, days[d], n_records)
        cols = list(zip(*rows))
        cols[2] = tuple(uri + p for p in cols[2])
        table = pa.table({h: pa.array(c, pa.string()) for h, c in zip(ERP_HEADERS, cols)})
        pq.write_table(table, os.path.join(path, f"part-{d:05d}-history.snappy.parquet"))
        n += table.num_rows
    return n


def generate(workload: str, seed: int, rundir: str) -> dict:
    """Write a workload's inputs under ``rundir`` and return the
    manifest ``job.py`` reads. Counts are asserted before any timing."""
    m: dict = {"workload": workload, "seed": seed}
    if workload == "llm_corpus_ops":
        sf_dir = os.path.join(rundir, "input", "llm")
        m["sf_dir"] = sf_dir
        m["tables"], m["digest"] = write_llm_corpus(sf_dir, seed)
        return m
    n_rec, preload = RECORDS_PER_REPORT, PRELOAD_DAYS
    days = e1_days(seed)
    landing = os.path.join(rundir, "input", "landing")
    incoming = os.path.join(rundir, "input", "incoming")
    for d, idx in enumerate(days):
        write_day(landing if d < preload else incoming, d, idx, n_rec)
    n_files = sum(len(idx) for idx in days)
    if count_reports(landing) + count_reports(incoming) != n_files:
        raise RuntimeError("generated report files collide")
    m.update(
        landing=landing,
        incoming=incoming,
        days=days,
        landed_days=preload,
        records_per_report=n_rec,
    )
    sink = os.path.join(rundir, "out", "parquet")
    if _history_sink(sink, days, preload, n_rec, landing) != preload * REPORTS_PER_DAY * n_rec:
        raise RuntimeError("history sink row count is wrong")
    return m


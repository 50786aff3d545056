"""The ``queries`` layer: the 14 ``bench.py`` queries, no crawl.

Measured in the traced ``campaign`` run, in the same Spark session. It
generates seeded sf0.01-shaped tables (``datagen.py``) and runs every query
once, keeping the results for the output check (this pass also warms the
JIT and codegen, the ``bench.py`` policy). Then it runs one timed pass of
the queries through the noop sink, one after another, with one span per
query.

Output check: each result of the first pass equals the DuckDB oracle of
``__spark_entry__.oracle_sql()``. ``q13`` uses the same Jaccard oracle
restricted to its ``doc_id % 4 == 0`` slice. The two entries without an
oracle get a definitional check: ``q14`` (SimHash) against a per-document
Python recomputation and a brute-force Hamming scan, ``q10``
(MinHash-LSH, probabilistic) by precision and recall against exact Jaccard.
"""

from __future__ import annotations

import datetime
import math
import zlib

import numpy as np

import datagen

SF = 0.01
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
ORACLE_OF = {
    "q1_pricing_summary": "flagship_pricing_summary",
    "q2_join_revenue": "q_join_revenue_per_nation",
    "q3_latest_pick": "r6_latest_pick",
    "q4_running_window": "w1_running_sum",
    "q5_events_tumbling": "events_tumbling_window",
    "q6_merge_overlay": "r8_merge_overlay",
    "q7_token_stats": "token_stats",
    "q8_quality_score": "quality_score",
    "q9_dedup_exact": "dedup_exact",
    "q11_ann_bruteforce": "ann_bruteforce",
    "q16_report_ids": "x1_report_ids",
}
LSH_MAX_EST_ERROR = 0.15  # 2.5 sigma of a 64-permutation Jaccard estimate
LSH_MIN_RECALL = 0.95  # of exact pairs with Jaccard >= 0.8


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def rows_of(pdf) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted, values normalized — an
    order-insensitive comparison form for a result frame."""
    cols = sorted(pdf.columns)
    return cols, sorted(
        tuple(_norm(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)
    )


def _simhash_pairs(docs) -> set[tuple[int, int]]:
    from biz_crawlers_spark.filters.bloom import splitmix64

    ids = docs["doc_id"].to_numpy(np.int64)
    sims = np.zeros(len(ids), dtype=np.uint64)
    for i, text in enumerate(docs["text"]):
        toks = text.lower().split()
        if not toks:
            continue
        h = splitmix64(np.array([zlib.crc32(t.encode("utf-8")) for t in toks], dtype=np.uint64))
        word = 0
        for j in range(64):
            ones = int(((h >> np.uint64(j)) & np.uint64(1)).sum())
            if 2 * ones - len(toks) > 0:
                word |= 1 << (63 - j)
        sims[i] = word
    x = sims[:, None] ^ sims[None, :]
    ham = np.unpackbits(x.view(np.uint8), axis=1).reshape(len(ids), len(ids), 64).sum(axis=2)
    a, b = np.nonzero(np.triu(ham <= 3, k=1))
    return {(int(ids[i]), int(ids[j])) for i, j in zip(a, b)}


def check_results(run, results: dict, check_dir: str) -> None:
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{check_dir}/{t}.parquet'")
    osql = entry.oracle_sql()
    for name, oname in ORACLE_OF.items():
        want = rows_of(con.sql(osql[oname]).df())
        got = rows_of(results[name])
        run.check(f"{name} equals the DuckDB oracle", got == want,
                  f"spark {len(got[1])} rows {got[0]}, oracle {len(want[1])} rows {want[0]}")

    con.sql("CREATE VIEW quarter AS SELECT * FROM documents WHERE doc_id % 4 = 0")
    q13 = entry._jaccard_sql(0.7).replace("FROM documents", "FROM quarter")
    want = rows_of(con.sql(q13).df())
    got = rows_of(results["q13_dedup_jaccard_t07_quarter"])
    run.check("q13_dedup_jaccard_t07_quarter equals the DuckDB oracle on its slice",
              got == want, f"spark {len(got[1])} rows, oracle {len(want[1])} rows")

    docs = con.sql("SELECT doc_id, text FROM documents ORDER BY doc_id").df()
    want14 = _simhash_pairs(docs)
    got14 = {(int(a), int(b)) for a, b in zip(results["q14_dedup_simhash"]["id_a"],
                                               results["q14_dedup_simhash"]["id_b"])}
    run.check("q14_dedup_simhash equals a brute-force SimHash recomputation",
              got14 == want14, f"spark {len(got14)} pairs, recomputed {len(want14)}")

    exact = con.sql(entry._jaccard_sql(0.0)).df()
    jac = {(int(a), int(b)): j for a, b, j in zip(exact["id_a"], exact["id_b"], exact["jaccard"])}
    lsh = results["q10_dedup_minhash_lsh"]
    pairs = list(zip(lsh["id_a"].astype(int), lsh["id_b"].astype(int)))
    far = [p for p in pairs if jac.get(p, 0.0) < 0.5 - LSH_MAX_EST_ERROR]
    close = [p for p, j in jac.items() if j >= 0.8]
    found = len(set(close) & set(pairs))
    run.check("q10_dedup_minhash_lsh precision and recall against exact Jaccard",
              not far and found >= LSH_MIN_RECALL * len(close),
              f"{len(far)} pairs below {0.5 - LSH_MAX_EST_ERROR}, "
              f"recall {found}/{len(close)} at Jaccard>=0.8")


def measure(run) -> None:
    """Run the query layer in ``run``'s Spark session and record
    ``queries.<q>_s``, the timed pass's wall of each query."""
    import bench

    data = datagen.write(SF, run.seed, run.dir("data", f"sf{SF}"))
    run.meta["queries_sf"] = SF
    results = {}
    for name, fn in bench.BENCH_QUERIES.items():
        results[name] = run.op(lambda: fn(run.spark, data).toPandas())
    run.spark.catalog.clearCache()
    for name, fn in bench.BENCH_QUERIES.items():
        with run.tracer.span(f"queries.{name}"):
            run.op(lambda: fn(run.spark, data).write.format("noop").mode("overwrite").save())
        run.metric(f"queries.{name}_s", run.tracer.totals(f"queries.{name}")[0])
    check_results(run, results, data)

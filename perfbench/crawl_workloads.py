"""The crawl workloads: ``fresh_epoch`` and ``campaign``.

Both drive the engine only through ``CrawlEngine.add_seed_df``,
``reseed_from_urls``, ``run_epoch`` and ``vacuum`` and ``SnapTable.read``.
Seeds are ``synthetic_seed_df`` report URLs over 256 fixture hosts (80% on
``h0``) in an id range derived from the workload seed, which also seeds the
fixture web. Politeness runs in virtual time (``time_scale=0``) and the
fetch stage is salted over the cores.

Expected outputs come from the fixture web itself
(``FixtureWeb.classify`` / ``n_images_for`` / ``images_for``), never from
the engine.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

import analytics
import layers
from biz_crawlers_spark.engine.stage import ORDER_SORT

N_HOSTS = 256
DENIED_HOST = "h1.fixture.test"  # FixtureWeb.robots_txt: h1 disallows /blocked/

FRESH_URLS = 2500  # URLs per fresh_epoch epoch
SCALING_URLS = 1250  # URLs per epoch of the traced run's scaling measurement
CAMPAIGN_EPOCHS = 1  # timed campaign steps, at least
CAMPAIGN_URLS = 300  # fresh URLs seeded before each campaign epoch
CAMPAIGN_VACUUM_AFTER = 1  # vacuum once, after the first timed step
CAMPAIGN_TTL = 8  # every reseed falls inside the TTL window, so it dedups
STAGE_SAMPLE = 400  # frontier rows in the single-process stage replay
PIXEL_SAMPLE = 24  # committed images compared with the fixture's pixels

ID_STRIDE = 1_000_000  # id range per workload seed: disjoint URL sets


def _id_base(seed: int) -> int:
    return (seed % 100_000) * ID_STRIDE


def web_params(run, small_images: bool) -> dict:
    p = {"seed": run.seed, "n_hosts": N_HOSTS}
    if small_images:
        p["image_sizes"] = (16, 32)
    return p


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    this process and every process under it: the Spark JVM, the Python
    worker daemon and its workers. Time the hypervisor gave to other guests
    is not in it."""
    root = os.getpid()
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def new_engine(run, params: dict, **kw):
    from biz_crawlers_spark.engine.crawl import CrawlEngine
    from biz_crawlers_spark.politeness.budget import PolitenessBudget

    wd = os.path.join(run.dir("stores"), f"s{time.monotonic_ns()}")
    return CrawlEngine(
        run.spark, wd, web_params=params, budget=PolitenessBudget(time_scale=0.0),
        per_host_budget=10**9, bloom_shards=32, bloom_bits=1 << 22, table_buckets=32,
        fetch_partitions=run.cores, fetch_salting=run.cores, **kw,
    )


def drop_engine(eng) -> None:
    shutil.rmtree(eng.workdir, ignore_errors=True)


def seed_df(run, n: int, start_id: int):
    from biz_crawlers_spark.frontier.seed import synthetic_seed_df

    return synthetic_seed_df(run.spark, n, n_hosts=N_HOSTS, start_id=start_id)


def terminal(stats: dict) -> int:
    return stats["fetched"] + stats["robots_denied"] + stats["deduped"]


# ---------- expected outputs ----------


def predict(params: dict, rows: pd.DataFrame) -> pd.DataFrame:
    """Per-URL expected status, image count and (for pages fetched ok) the
    entity id of the page's record: a pandas frame aligned with ``rows``."""
    from biz_crawlers_spark.fixtures.web import FixtureWeb

    web = FixtureWeb(**params)
    status, images, entity = [], [], []
    for url, host in zip(rows["canonical_url"], rows["host"]):
        if host == DENIED_HOST and "/blocked/" in url:
            st = "robots_denied"
        else:
            st = {"not_found": "not_found", "junk": "failed"}.get(web.classify(url), "ok")
        status.append(st)
        images.append(web.n_images_for(url) if st == "ok" else 0)
        entity.append(web.entity_for(url)[0] if st == "ok" else None)
    out = rows.copy()
    out["status"] = status
    out["n_images"] = images
    out["entity_id"] = entity
    return out


def expected_counts(pred) -> dict:
    vc = pred["status"].value_counts()
    return {
        "ok": int(vc.get("ok", 0)),
        "not_found": int(vc.get("not_found", 0)),
        "failed": int(vc.get("failed", 0)),
        "robots_denied": int(vc.get("robots_denied", 0)),
        "images": int(pred["n_images"].sum()),
    }


def seen_keys(pred) -> set[int]:
    """Keys the seen set records: fetches that ended ok or not_found."""
    return set(pred.loc[pred["status"].isin(["ok", "not_found"]), "url_key"].tolist())


def check_epoch_counts(run, label: str, stats: dict, pred, deduped: int = 0) -> None:
    want = expected_counts(pred)
    want["deduped"] = deduped
    got = {k: stats[k] for k in want}
    run.check(f"{label}: status and image counts", got == want, f"got {got} want {want}")


def check_store(run, eng, params: dict, pred) -> None:
    """Seen set, sampled pixels and captions, and per-host crawl order of a
    store that crawled exactly ``pred``'s URLs in one epoch."""
    from pyspark.sql import functions as F

    from biz_crawlers_spark.codecs import decode, psnr
    from biz_crawlers_spark.fixtures.web import FixtureWeb

    seen = {r[0] for r in eng.seen.read().select("url_key").collect()}
    want = seen_keys(pred)
    run.check("seen set equals the seeded keys that ended ok/not_found", seen == want,
              f"{len(seen)} seen, {len(want)} expected, {len(seen ^ want)} differ")

    web = FixtureWeb(**params)
    with_images = pred[pred["n_images"] > 0]
    sample = with_images.iloc[:: max(1, len(with_images) // PIXEL_SAMPLE)][:PIXEL_SAMPLE]
    url_of = dict(zip(sample["url_key"], sample["canonical_url"]))
    got = (
        eng.images.read()
        .filter(F.col("url_key").isin([int(k) for k in url_of]))
        .select("url_key", "seq", "fmt", "bytes", "caption")
        .collect()
    )
    bad = []
    for r in got:
        truth = web.images_for(url_of[r["url_key"]])[r["seq"]]
        px = decode(bytes(r["bytes"]), r["fmt"])
        same_px = (
            psnr(truth["pixels"], px) >= 40.0 if r["fmt"] == "qjpg"
            else np.array_equal(truth["pixels"], px)
        )
        if r["fmt"] != truth["fmt"] or not same_px or r["caption"] != truth["caption"]:
            bad.append((r["url_key"], r["seq"]))
    n_want = int(sample["n_images"].sum())
    run.check("sampled images: pixels (QJPG PSNR>=40 dB, PNG exact) and captions",
              not bad and len(got) == n_want, f"{len(got)}/{n_want} images, mismatched {bad[:5]}")

    log = eng.order_log.read().select("url_key", "host", "host_seq").toPandas()
    merged = log.merge(pred[["url_key", *[c for c in ORDER_SORT if c != "url_key"]]],
                       on="url_key")
    out_of_order = []
    for host, g in merged.groupby("host"):
        by_seq = g.sort_values("host_seq")
        by_key = g.sort_values(ORDER_SORT)
        if (by_seq["url_key"].tolist() != by_key["url_key"].tolist()
                or by_seq["host_seq"].tolist() != list(range(len(g)))):
            out_of_order.append(host)
    run.check("per-host host_seq follows ORDER_SORT",
              not out_of_order and len(merged) == len(pred),
              f"{len(merged)}/{len(pred)} logged, hosts out of order: {out_of_order[:5]}")


# ---------- metrics ----------


def end_to_end(run, setup_s: float, ops: list[tuple[int, float, float]]) -> None:
    """The end-to-end metrics from ``ops`` = [(URLs that reached a terminal
    state, wall seconds, CPU seconds)], named ``traced.*`` in a traced run."""
    prefix = "" if run.tracer is None else "traced."
    run.metric(f"{prefix}setup_s", setup_s)
    run.metric(f"{prefix}op_cpu_s", statistics.median(c for _, _, c in ops))
    run.metric(f"{prefix}items_per_cpu_s", statistics.median(n / c for n, _, c in ops))
    run.metric(f"{prefix}op_s_p50", statistics.median(w for _, w, _ in ops))
    run.metric(f"{prefix}items_per_s", statistics.median(n / w for n, w, _ in ops))




def phase_metrics(run, epoch_stats: list[dict]) -> None:
    def med(xs):
        return statistics.median(xs) if xs else 0.0

    for ph in ("select_dedup", "robots", "fetch_stage", "stats_pass", "commits"):
        run.metric(f"engine.crawl.{ph}_s", med([s["phase_sec"].get(ph, 0.0) for s in epoch_stats]))
    for c in ("images", "records", "seen", "bloom", "frontier", "order_log", "lineage"):
        walls = [s["phase_sec"]["commit_breakdown"].get(f"c_{c}", 0.0) for s in epoch_stats]
        run.metric(f"engine.crawl.commit_{c}_s", med(walls))


def stage_metrics(run, params: dict, rows) -> None:
    sample = rows.sort_values(["host", *ORDER_SORT]).head(STAGE_SAMPLE).copy()
    rules = layers.robots_rules(params, sorted(sample["host"].unique()))
    sample["rules"] = sample["host"].map(rules)
    for k, v in layers.replay_stage(run.tracer, params, sample).items():
        run.metric(k, v)


def table_metrics(run, counter, eng) -> None:
    for name in layers.SNAPTABLE_CALLS:
        total, _, calls = run.tracer.totals(f"tables.snaptable.{name}")
        run.metric(f"tables.snaptable.{name}_s", total)
        run.metric(f"tables.snaptable.{name}_calls", calls)
    run.metric("tables.snaptable.files_written", counter.files)
    run.metric("tables.snaptable.bytes_written_mb", counter.bytes / 1e6)
    deletes, store_mb = layers.store_stats(eng)
    run.metric("tables.snaptable.delete_entries", deletes)
    run.metric("tables.snaptable.store_mb", store_mb)
    _, self_s, n = run.tracer.totals("engine.crawl.run_epoch")
    run.metric("engine.crawl.epoch_self_s", self_s / max(n, 1))


# ---------- fresh_epoch ----------


def _seeded_engine(run, params: dict, n: int, start_id: int):
    eng = new_engine(run, params)
    run.op(lambda: eng.add_seed_df(seed_df(run, n, start_id)))
    return eng


def _timed_epoch(run, eng) -> tuple[dict, float, float]:
    """(epoch stats, wall seconds, CPU seconds) of one epoch."""
    cpu0, t0 = tree_cpu_s(), time.monotonic()
    stats = run.op(eng.run_epoch)
    return stats, time.monotonic() - t0, tree_cpu_s() - cpu0


def urls_per_s_in_new_context(run, params: dict, base: int, cores: int) -> float:
    """URLs per second of a SCALING_URLS epoch of the workload's URLs, the
    first epoch of a new Spark context with ``cores`` cores in the already
    warm JVM. Half the workload's epoch keeps the traced run within its
    time limit."""
    run.spark.stop()
    run.start_spark(cores=cores, app=f"perfbench-fresh_epoch-local{cores}")
    eng = _seeded_engine(run, params, SCALING_URLS, base)
    stats, wall, _ = _timed_epoch(run, eng)
    drop_engine(eng)
    return terminal(stats) / wall


def run_fresh_epoch(run, t_start: float) -> None:
    """One epoch of FRESH_URLS seeded URLs into an empty store, the first
    epoch of the process. Set-up is the JVM start and the seeding of the
    store; the operation is the epoch, with its cold start."""
    params = web_params(run, small_images=False)
    base = _id_base(run.seed)
    t0 = time.time()
    run.start_spark()
    jvm_start_s = time.time() - t0
    counter = layers.WriteCounter()
    if run.tracer is not None:
        layers.install_entry_spans(run.tracer, counter)
    t0 = time.time()
    eng = _seeded_engine(run, params, FRESH_URLS, base)
    seed_s = time.time() - t0
    setup_s = time.time() - t_start

    t_win = time.time() * 1e3
    stats, wall, cpu = _timed_epoch(run, eng)
    t_win = (t_win, time.time() * 1e3)
    rss = run.jvm_peak_rss_mb()

    rows = seed_df(run, FRESH_URLS, base).toPandas()
    pred = predict(params, rows)
    check_epoch_counts(run, "fresh epoch", stats, pred)
    check_store(run, eng, params, pred)
    run.meta.update({"epoch_urls": FRESH_URLS, "n_hosts": N_HOSTS, "epochs": 1})

    run.metric("session.jvm_peak_rss_mb", rss)
    end_to_end(run, setup_s, [(terminal(stats), wall, cpu)])
    if run.tracer is None:
        return

    run.tracer.unwrap_all()
    table_metrics(run, counter, eng)
    phase_metrics(run, [stats])
    run.metric("engine.crawl.seed_s", seed_s)
    run.metric("engine.crawl.late_epoch_s", wall)
    stage_metrics(run, params, rows)
    bloom_epochs = [(rows["url_key"].to_numpy(np.int64),
                     np.fromiter(seen_keys(pred), dtype=np.int64))]
    for k, v in layers.replay_bloom(run.dir("bloom-replay"), eng.bloom, bloom_epochs, 0).items():
        run.metric(k, v)
    drop_engine(eng)
    run.metric("session.jvm_start_s", jvm_start_s)
    run.metric("session.warmup_s", seed_s)
    layers.tracing_overhead(run, counter)
    app_id = run.spark.sparkContext.applicationId

    # the paper's two-parallelism-level criterion: the same URLs at
    # local[4] and at local[2], each in a new Spark context of the warm JVM
    at_4 = urls_per_s_in_new_context(run, params, base, 4)
    layers.spark_metrics(run, app_id, t_win, 1)
    at_2 = urls_per_s_in_new_context(run, params, base, 2)
    run.metric("engine.crawl.scaling_eff_2to4", at_4 / at_2 / 2)


# ---------- campaign ----------


def _seed_urls(pred) -> list:
    from biz_crawlers_spark.fixtures.web import SeedURL

    return [
        SeedURL(r.canonical_url, int(r.org_idx), int(r.type_idx), int(r.page),
                int(r.priority), r.host)
        for r in pred.itertuples(index=False)
    ]


def run_campaign(run, t_start: float) -> None:
    """One store, consecutive epochs. The first epoch (fresh seeds into the
    empty store, cold JVM) is the set-up. Each timed step seeds fresh URLs,
    reseeds half of the previous epoch's seen URLs (which dedup inside the
    TTL window) and runs the epoch; the step is the operation, so seeding
    cost is part of it. Steps run until the run's seconds are spent, at
    least CAMPAIGN_EPOCHS of them; vacuum runs once after
    CAMPAIGN_VACUUM_AFTER, and the images and records tables are read and
    aggregated at the end."""
    from pyspark.sql import functions as F

    params = web_params(run, small_images=True)
    base = _id_base(run.seed)
    t0 = time.time()
    run.start_spark()
    jvm_start_s = time.time() - t0
    t0 = time.time()
    eng = new_engine(run, params, ttl_epochs=CAMPAIGN_TTL)
    run.op(lambda: eng.add_seed_df(seed_df(run, CAMPAIGN_URLS, base)))
    first = run.op(eng.run_epoch)
    warmup_s = time.time() - t0
    setup_s = time.time() - t_start

    def epoch_pred(e: int):
        return predict(params, seed_df(run, CAMPAIGN_URLS, base + e * CAMPAIGN_URLS).toPandas())

    preds = [epoch_pred(0)]
    check_epoch_counts(run, "campaign epoch 0", first, preds[0])
    counter = layers.WriteCounter()
    if run.tracer is not None:
        layers.install_entry_spans(run.tracer, counter)
    steps, walls, cpus, stats_all = [], [], [], [first]
    reseed_keys = [np.zeros(0, dtype=np.int64)]
    seed_s = vacuum_s = 0.0
    t_win = time.time() * 1e3
    t_loop = time.monotonic()
    e = 0
    while len(walls) < CAMPAIGN_EPOCHS or time.monotonic() - t_loop < run.seconds:
        e += 1
        preds.append(epoch_pred(e))
        prev = preds[e - 1]
        reseed = prev[prev["url_key"].isin(seen_keys(prev))].iloc[::2]
        cpu0, t_step = tree_cpu_s(), time.monotonic()
        run.op(lambda: eng.add_seed_df(seed_df(run, CAMPAIGN_URLS, base + e * CAMPAIGN_URLS)))
        run.op(lambda: eng.reseed_from_urls(_seed_urls(reseed)))
        seed_s += time.monotonic() - t_step
        t0 = time.monotonic()
        stats = run.op(eng.run_epoch)
        walls.append(time.monotonic() - t0)
        steps.append(time.monotonic() - t_step)
        cpus.append(tree_cpu_s() - cpu0)
        stats_all.append(stats)
        reseed_keys.append(reseed["url_key"].to_numpy(np.int64))
        check_epoch_counts(run, f"campaign epoch {e}", stats, preds[e], deduped=len(reseed))
        if e == CAMPAIGN_VACUUM_AFTER:
            t0 = time.monotonic()
            run.op(eng.vacuum)
            vacuum_s = time.monotonic() - t0
    t0 = time.monotonic()
    img = run.op(lambda: eng.images.read().groupBy("fmt").agg(
        F.count("*").alias("n"), F.sum(F.col("w") * F.col("h")).alias("px")).collect())
    rec = run.op(lambda: eng.records.read().groupBy("category").count().collect())
    store_read_s = time.monotonic() - t0
    t_win = (t_win, time.time() * 1e3)
    rss = run.jvm_peak_rss_mb()

    n_img, n_rec = sum(r["n"] for r in img), sum(r["count"] for r in rec)
    want_img = sum(int(p["n_images"].sum()) for p in preds)
    # records are keyed by entity id, and two pages can carry the same one
    want_rec = len(set().union(*(set(p["entity_id"].dropna()) for p in preds)))
    run.check("campaign: final images/records row counts",
              (n_img, n_rec) == (want_img, want_rec),
              f"images {n_img} want {want_img}, records {n_rec} want {want_rec}")
    run.meta.update({"epoch_urls": CAMPAIGN_URLS, "timed_epochs": len(walls),
                     "ttl_epochs": CAMPAIGN_TTL, "n_hosts": N_HOSTS})

    run.metric("session.jvm_peak_rss_mb", rss)
    end_to_end(run, setup_s, [(terminal(s), w, c) for s, w, c in zip(stats_all[1:], steps, cpus)])
    if run.tracer is None:
        drop_engine(eng)
        return

    run.tracer.unwrap_all()
    table_metrics(run, counter, eng)
    phase_metrics(run, stats_all[1:])
    run.metric("engine.crawl.seed_s", seed_s)
    run.metric("engine.crawl.vacuum_s", vacuum_s)
    run.metric("engine.crawl.late_epoch_s", statistics.median(walls[-max(1, len(walls) // 3):]))
    run.metric("tables.snaptable.store_read_s", store_read_s)
    stage_metrics(run, params, preds[0])

    seen = eng.seen.read().toPandas()
    bloom_epochs = [
        (np.concatenate([p["url_key"].to_numpy(np.int64), rk]),
         seen.loc[seen["seen_epoch"] == i, "url_key"].to_numpy(np.int64))
        for i, (p, rk) in enumerate(zip(preds, reseed_keys))
    ]
    deduped = sum(s["deduped"] for s in stats_all)
    for k, v in layers.replay_bloom(run.dir("bloom-replay"), eng.bloom, bloom_epochs,
                                    deduped).items():
        run.metric(k, v)
    drop_engine(eng)
    run.metric("session.jvm_start_s", jvm_start_s)
    run.metric("session.warmup_s", warmup_s)
    analytics.measure(run)
    layers.tracing_overhead(run, counter)
    app_id = run.spark.sparkContext.applicationId
    run.spark.stop()
    layers.spark_metrics(run, app_id, t_win, len(steps))


def main(run, t_start: float) -> None:
    {"fresh_epoch": run_fresh_epoch, "campaign": run_campaign}[run.workload](run, t_start)

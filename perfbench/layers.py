"""Per-layer measurements for the traced run.

- ``install_entry_spans``: spans around the engine's public main-process
  entry points (``CrawlEngine`` seeding, epochs, vacuum; ``SnapTable``
  merge / adopt / append / read, with the data files each call added).
- ``replay_stage``: a single-process replay of ``make_stage`` over a fixed
  sample of frontier rows, with spans around the module attributes the
  stage calls (transport fetch, codecs, record and figure extraction).
- ``replay_bloom``: the Bloom primitive (``BloomShards.contains`` /
  ``add``) replayed over a run's real per-epoch key stream.
- ``spark_event_totals`` / ``spark_metrics``: jobs, tasks, CPU, shuffle and
  spill from the local Spark event log of the traced run.
- ``tracing_overhead``: the time the tracer itself added.
"""

from __future__ import annotations

import json
import os
import time
import types

import numpy as np

SNAPTABLE_CALLS = ("merge", "adopt_files", "append", "read")
ENGINE_CALLS = ("add_seed_df", "reseed_from_urls", "run_epoch", "vacuum")


class WriteCounter:
    """Data files and bytes added to SnapTables by the wrapped calls."""

    def __init__(self) -> None:
        self.files = 0
        self.bytes = 0
        self.hook_s = 0.0  # time spent reading manifests: tracing overhead


def _manifest_files(table) -> set[str]:
    sid = table.current_snapshot_id()
    if sid < 0:
        return set()
    return {f["path"] for f in table._load_manifest(sid)["files"]}


def install_entry_spans(tracer, counter: WriteCounter) -> None:
    from biz_crawlers_spark.engine.crawl import CrawlEngine
    from biz_crawlers_spark.tables.snaptable import SnapTable

    for name in ENGINE_CALLS:
        tracer.wrap(CrawlEngine, name, f"engine.crawl.{name}")

    def count_writes(rec, args, kwargs, call):
        table = args[0]
        t0 = time.monotonic()
        before = _manifest_files(table)
        counter.hook_s += time.monotonic() - t0
        out = call()
        t0 = time.monotonic()
        added = _manifest_files(table) - before
        counter.files += len(added)
        counter.bytes += sum(os.path.getsize(os.path.join(table.path, p)) for p in added)
        counter.hook_s += time.monotonic() - t0
        return out

    for name in SNAPTABLE_CALLS:
        tracer.wrap(
            SnapTable, name, f"tables.snaptable.{name}",
            hook=None if name == "read" else count_writes,
        )


def store_stats(engine) -> tuple[int, float]:
    """(equality-delete entries across the engine's tables, MB of data
    files the current snapshots reference)."""
    deletes, size = 0, 0
    for name in engine.TABLE_NAMES:
        t = getattr(engine, name)
        sid = t.current_snapshot_id()
        if sid < 0:
            continue
        m = t._load_manifest(sid)
        deletes += len(m.get("deletes", []))
        size += sum(os.path.getsize(os.path.join(t.path, f["path"])) for f in m["files"])
    return deletes, size / 1e6


def robots_rules(web_params: dict, hosts: list[str]) -> dict[str, str]:
    """Robots rules per host, as the engine's robots pre-pass derives them."""
    import pandas as pd

    from biz_crawlers_spark.engine.stage import make_robots_stage

    out = next(make_robots_stage(web_params)(iter([pd.DataFrame({"host": hosts})])))
    return dict(zip(out["host"], out["rules"]))


def replay_stage(tracer, web_params: dict, rows) -> dict[str, float]:
    """Replay the fused fetch stage in this process over ``rows`` (frontier
    columns plus ``rules``). Returns per-URL / per-image / per-page costs."""
    from biz_crawlers_spark.engine import stage as S
    from biz_crawlers_spark.politeness.budget import PolitenessBudget

    real_codecs = S.codecs
    real_transport = S.make_transport

    def timed_transport(params):
        web = real_transport(params)
        fetch = web.fetch

        def traced_fetch(*a, **k):
            with tracer.span("fixtures.fetch"):
                return fetch(*a, **k)

        web.fetch = traced_fetch
        return web

    def decode(data, fmt):
        with tracer.span(f"codecs.decode.{fmt}"):
            return real_codecs.decode(data, fmt)

    def phash64(pixels):
        with tracer.span("codecs.phash"):
            return real_codecs.phash64(pixels)

    tracer.patch(S, "make_transport", timed_transport)
    tracer.patch(S, "codecs", types.SimpleNamespace(decode=decode, phash64=phash64))
    tracer.wrap(S, "extract_figures", "extract.figures")
    tracer.wrap(S, "build_entity_record", "extract.record")
    try:
        stage = S.make_stage(web_params, PolitenessBudget(time_scale=0.0))
        with tracer.span("engine.stage") as rec:
            for _ in stage(iter([rows])):
                pass
        stage_id = rec["id"]
    finally:
        tracer.unwrap_all()
    n_urls = len(rows)
    stage_s = tracer.spans[stage_id]["end"] - tracer.spans[stage_id]["start"]
    fetch_s, _, n_fetch = tracer.totals("fixtures.fetch")
    rec_s, _, n_rec = tracer.totals("extract.record")
    fig_s, _, n_fig = tracer.totals("extract.figures")
    q_s, _, n_q = tracer.totals("codecs.decode.qjpg")
    p_s, _, n_p = tracer.totals("codecs.decode.png")
    h_s, _, n_h = tracer.totals("codecs.phash")
    return {
        "engine.stage.ms_per_url": 1e3 * stage_s / n_urls,
        "engine.stage.self_ms_per_url": 1e3 * tracer.self_time(stage_id) / n_urls,
        "fixtures.fetch_ms_per_url": 1e3 * fetch_s / max(n_fetch, 1),
        "extract.record_ms_per_page": 1e3 * rec_s / max(n_rec, 1),
        "extract.figures_ms_per_page": 1e3 * fig_s / max(n_fig, 1),
        "codecs.qjpg_decode_ms_per_image": 1e3 * q_s / max(n_q, 1),
        "codecs.png_decode_ms_per_image": 1e3 * p_s / max(n_p, 1),
        "codecs.phash_ms_per_image": 1e3 * h_s / max(n_h, 1),
    }


def replay_bloom(path: str, like, epochs: list[tuple[np.ndarray, np.ndarray]],
                 deduped: int) -> dict[str, float]:
    """Replay the seen-set Bloom over ``epochs`` = [(probed keys, added
    keys)]: an epoch probes only once the seen set is non-empty, as the
    engine does. ``like`` is the engine's Bloom (geometry and final fill)."""
    from biz_crawlers_spark.filters.bloom import BloomShards

    bloom = BloomShards.create(path, n_shards=like.n_shards, m_bits=like.m_bits, k=like.k)
    probe_s = add_s = 0.0
    probes = positives = 0
    seen = 0
    for probe, added in epochs:
        if seen:
            t0 = time.monotonic()
            hit = bloom.contains(probe)
            probe_s += time.monotonic() - t0
            probes += len(probe)
            positives += int(hit.sum())
        t0 = time.monotonic()
        bloom.add(added)
        add_s += time.monotonic() - t0
        seen += len(added)
    false_pos = positives - deduped
    return {
        "filters.bloom.probe_s": probe_s,
        "filters.bloom.add_s": add_s,
        "filters.bloom.probes": probes,
        "filters.bloom.positives": positives,
        "filters.bloom.fpr": false_pos / (probes - deduped) if probes > deduped else 0.0,
        "filters.bloom.fill_ratio": like.fill_ratio(),
    }


def spark_event_totals(eventlog_dir: str, app_id: str, t0_ms: float, t1_ms: float) -> dict:
    """Jobs submitted and tasks launched inside [t0_ms, t1_ms] (epoch ms),
    with their executor CPU, shuffle write and spill, from the event log."""
    path = next(
        os.path.join(eventlog_dir, f) for f in os.listdir(eventlog_dir) if f.startswith(app_id)
    )
    jobs = tasks = 0
    cpu_ns = shuffle = spill = 0
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                    jobs += 1
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                if not t0_ms <= info.get("Launch Time", 0) <= t1_ms:
                    continue
                tasks += 1
                m = ev.get("Task Metrics") or {}
                cpu_ns += m.get("Executor CPU Time", 0)
                shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {
        "jobs": jobs,
        "tasks": tasks,
        "task_cpu_s": cpu_ns / 1e9,
        "shuffle_write_mb": shuffle / 1e6,
        "spill_mb": spill / 1e6,
    }


def spark_metrics(run, app_id: str, window: tuple[float, float], ops: int) -> None:
    ev = spark_event_totals(run.dir("eventlog"), app_id, *window)
    run.metric("spark.jobs_per_op", ev["jobs"] / ops)
    run.metric("spark.tasks_per_op", ev["tasks"] / ops)
    run.metric("spark.task_cpu_s", ev["task_cpu_s"])
    run.metric("spark.shuffle_write_mb", ev["shuffle_write_mb"])
    run.metric("spark.spill_mb", ev["spill_mb"])


def tracing_overhead(run, counter: "WriteCounter | None") -> None:
    """Time the tracer itself added: manifest reads in the write counters
    plus the measured cost of one span times the number of spans."""
    from tracing import Tracer

    probe = Tracer()
    t0 = time.monotonic()
    for _ in range(2000):
        with probe.span("x"):
            pass
    per_span = (time.monotonic() - t0) / 2000
    hooks = counter.hook_s if counter is not None else 0.0
    run.metric("trace.spans", len(run.tracer.spans))
    run.metric("trace.overhead_s", hooks + per_span * len(run.tracer.spans))

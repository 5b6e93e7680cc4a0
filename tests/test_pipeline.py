"""End-to-end pipeline scenarios (FIXTURES.md §4) — generated changefeed log
replayed through snapshot + streaming phases; final table state asserted
row-for-row (token-array equality) against the pure-Python oracle."""

import glob
import os

import pytest

from debezium_connector_cockroachdb_spark.sources.generator import (
    GeneratorConfig,
    seed_table,
    write_log,
)
from debezium_connector_cockroachdb_spark.streaming.pipeline import CDCPipeline, IngestConfig

from oracle import assert_state_equal, replay  # tests/oracle.py (conftest puts repo root + tests on sys.path)


def build_env(spark, tmp_path, cfg_kw=None, ingest_kw=None, write_seed=True):
    gcfg = GeneratorConfig(
        num_keys=60, num_events=800, resolved_every=200, n_files=4,
        dup_pct=5, tombstone_pct=50, **(cfg_kw or {})
    )
    log_dir = str(tmp_path / "log")
    write_log(spark, gcfg, log_dir)
    icfg = IngestConfig(
        log_dir=log_dir,
        table_path=str(tmp_path / "table"),
        metrics_path=str(tmp_path / "metrics"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=8,
        **(ingest_kw or {}),
    )
    seed = seed_table(spark, gcfg) if write_seed else None
    return gcfg, icfg, log_dir, seed


def run_oracle(spark, log_dir, seed):
    import pandas as pd
    log = spark.read.parquet(log_dir).toPandas()
    seed_rows = [r.asDict() for r in seed.collect()] if seed is not None else None
    if seed_rows:
        for r in seed_rows:
            r["tokens"] = list(r["tokens"])
    return replay(log, "doc_id", seed_rows)


def normalize(rows):
    out = []
    for r in rows:
        d = r.asDict()
        if d.get("tokens") is not None:
            d["tokens"] = list(d["tokens"])
        out.append(d)
    return out


def test_full_replay_matches_oracle(spark, tmp_path):
    """Scenario 1/4/5/6/8/13 combined: the whole generated log (dups,
    tombstones, same-HLC txns, resolved rows) + initial scan."""
    gcfg, icfg, log_dir, seed = build_env(spark, tmp_path)
    pipe = CDCPipeline(spark, icfg)
    pipe.run_to_completion(seed_df=seed)
    got = normalize(pipe.read_state().collect())
    assert_state_equal(got, run_oracle(spark, log_dir, seed))


def test_stream_only_no_snapshot(spark, tmp_path):
    gcfg, icfg, log_dir, _ = build_env(
        spark, tmp_path, ingest_kw={"snapshot_mode": "never"}, write_seed=False
    )
    pipe = CDCPipeline(spark, icfg)
    pipe.run_to_completion(seed_df=None)
    got = normalize(pipe.read_state().collect())
    assert_state_equal(got, run_oracle(spark, log_dir, None))


def test_restart_resume_no_reapply(spark, tmp_path):
    """Scenario 9 (CockroachDBRestartResumeIT analogue): stop after some
    micro-batches, restart from the same checkpoint → identical state,
    zero double-applied effects."""
    gcfg, icfg, log_dir, seed = build_env(
        spark, tmp_path, ingest_kw={"max_files_per_trigger": 1}
    )
    pipe = CDCPipeline(spark, icfg)
    pipe.run_snapshot(seed)
    # phase 1: process just the first couple of triggers, then kill
    q = pipe.start_stream(available_now=False, trigger_seconds=0.1)
    import time as _t
    deadline = _t.time() + 60
    while _t.time() < deadline:
        progress = q.lastProgress
        if progress and progress["batchId"] >= 1:
            break
        _t.sleep(0.2)
    q.stop()
    q.awaitTermination()
    # phase 2: a NEW pipeline object (fresh process analogue), same checkpoint
    pipe2 = CDCPipeline(spark, icfg)
    q2 = pipe2.start_stream(available_now=True)
    q2.awaitTermination()
    got = normalize(pipe2.read_state().collect())
    assert_state_equal(got, run_oracle(spark, log_dir, seed))
    # every applied batch key is unique (no batch merged twice)
    applied = pipe2.table.meta["applied"]
    assert len(applied) == len(set(applied))


def test_schema_evolution_mid_stream(spark, tmp_path):
    """Scenario 10 (dbz#2253 analogue): `lang` column appears mid-stream;
    pre-DDL rows null-filled, post-DDL rows carry it; target schema evolves
    before apply."""
    gcfg, icfg, log_dir, seed = build_env(spark, tmp_path, cfg_kw={"evolve_at": 400})
    pipe = CDCPipeline(spark, icfg)
    pipe.run_to_completion(seed_df=seed)
    got = normalize(pipe.read_state().collect())
    oracle = run_oracle(spark, log_dir, seed)
    # align: oracle rows written pre-DDL lack `lang` → expect None
    for v in oracle.values():
        v.setdefault("lang", None)
    assert_state_equal(got, oracle)
    assert "lang" in [f.name for f in pipe.table.schema.fields]
    langs = {r["lang"] for r in got}
    assert langs - {None}, "some post-DDL rows must carry lang"


def test_hot_key_skew_matches_oracle(spark, tmp_path):
    """Scenario 11: ≥20% of events hit one key; result identical."""
    gcfg, icfg, log_dir, seed = build_env(spark, tmp_path, cfg_kw={"hot_key_pct": 25})
    pipe = CDCPipeline(spark, icfg)
    pipe.run_to_completion(seed_df=seed)
    got = normalize(pipe.read_state().collect())
    assert_state_equal(got, run_oracle(spark, log_dir, seed))


def test_metrics_lineage_written(spark, tmp_path):
    gcfg, icfg, log_dir, seed = build_env(spark, tmp_path)
    pipe = CDCPipeline(spark, icfg)
    pipe.run_to_completion(seed_df=seed)
    m = pipe.read_metrics().collect()
    phases = {r["phase"] for r in m}
    assert {"snapshot", "stream"} <= phases
    stream_rows = [r for r in m if r["phase"] == "stream"]
    assert all(r["table_version"] is not None for r in m)
    # frontier advanced at least once via resolved messages
    assert any(r["frontier_hlc"] for r in stream_rows)
    # offset lineage recorded
    assert any(r["min_seq"] is not None and r["max_seq"] is not None for r in stream_rows)


def test_initial_only_stops_after_snapshot(spark, tmp_path):
    gcfg, icfg, log_dir, seed = build_env(
        spark, tmp_path, ingest_kw={"snapshot_mode": "initial_only"}
    )
    pipe = CDCPipeline(spark, icfg)
    pipe.run_to_completion(seed_df=seed)
    got = {r["doc_id"] for r in pipe.read_state().collect()}
    assert got == {r["doc_id"] for r in seed.collect()}  # stream never ran


def test_poison_event_quarantined(spark, tmp_path):
    """X3: malformed JSON values go to the dead-letter table, never apply,
    never kill the stream."""
    from pyspark.sql import Row

    gcfg, icfg, log_dir, seed = build_env(spark, tmp_path)
    icfg.errors_path = str(tmp_path / "errors")
    pipe = CDCPipeline(spark, icfg)
    pipe.run_to_completion(seed_df=seed)
    n_before = pipe.read_state().count()
    poison = spark.createDataFrame(
        [Row(topic="t", partition=0, offset=10**9, ts_ms=0, key='["x"]', value="NOT JSON {{{")],
        "topic string, partition int, offset long, ts_ms long, key string, value string",
    )
    stats = pipe.process_batch(poison, batch_id=999999)
    assert stats["n_malformed"] == 1
    assert stats["n_updates"] == 0
    assert pipe.read_state().count() == n_before
    errs = spark.read.parquet(icfg.errors_path).collect()
    assert len(errs) == 1 and errs[0]["value"].startswith("NOT JSON")


def test_poison_offset_cap_falls_back_to_parse_filter(spark, tmp_path, monkeypatch):
    """X3 capped path: when a batch carries more poison rows than
    _BAD_SEQ_CAP, the driver-side offset list is truncated (bounded
    collect) and the quarantine write re-derives is_malformed
    executor-side — every poison row still reaches the dead-letter table
    exactly once and the stream survives."""
    from pyspark.sql import Row

    from debezium_connector_cockroachdb_spark.streaming import pipeline as pipeline_mod

    monkeypatch.setattr(pipeline_mod, "_BAD_SEQ_CAP", 5)
    gcfg, icfg, log_dir, seed = build_env(spark, tmp_path)
    icfg.errors_path = str(tmp_path / "errors")
    pipe = CDCPipeline(spark, icfg)
    pipe.run_to_completion(seed_df=seed)
    n_before = pipe.read_state().count()
    poison = spark.createDataFrame(
        [
            Row(topic="t", partition=0, offset=10**9 + i, ts_ms=0,
                key='["x"]', value=f"NOT JSON {{{{{i}")
            for i in range(20)
        ],
        "topic string, partition int, offset long, ts_ms long, key string, value string",
    )
    stats = pipe.process_batch(poison, batch_id=999998)
    assert stats["n_malformed"] == 20
    assert pipe.read_state().count() == n_before
    errs = spark.read.parquet(icfg.errors_path).collect()
    assert len(errs) == 20
    assert sorted(r["offset"] for r in errs) == [10**9 + i for i in range(20)]


def test_exact_drift_mode_evolves_and_fails_on_unknown(spark, tmp_path):
    """drift_mode="exact": per-batch field-set comparison (reference-
    faithful E1). Known-in-registry drift evolves; a field the registry
    has never heard of fails the batch retriably (dbz#2322)."""
    from pyspark.sql import Row

    gcfg, icfg, log_dir, seed = build_env(
        spark, tmp_path, cfg_kw={"evolve_at": 400}, ingest_kw={"drift_mode": "exact"}
    )
    pipe = CDCPipeline(spark, icfg)
    pipe.run_to_completion(seed_df=seed)
    assert "lang" in [f.name for f in pipe.table.schema.fields]
    got = normalize(pipe.read_state().collect())
    oracle = run_oracle(spark, log_dir, seed)
    for v in oracle.values():
        v.setdefault("lang", None)
    assert_state_equal(got, oracle)

    rogue = spark.createDataFrame(
        [Row(topic="t", partition=0, offset=10**9, ts_ms=0, key='["zz"]',
             value='{"after":{"doc_id":"zz","tokens":[1],"n_tok":1,"source":"cc","mystery":1},"op":"c","ts_ns":1}')],
        "topic string, partition int, offset long, ts_ms long, key string, value string",
    )
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="mystery"):
        pipe.process_batch(rogue, batch_id=12345)


def test_mor_pipeline_end_to_end(spark, tmp_path):
    """Full replay through merge-on-read mode matches the oracle too."""
    gcfg, icfg, log_dir, seed = build_env(
        spark, tmp_path, ingest_kw={"merge_mode": "mor", "mor_max_deltas_per_bucket": 2}
    )
    pipe = CDCPipeline(spark, icfg)
    pipe.run_to_completion(seed_df=seed)
    got = normalize(pipe.read_state().collect())
    assert_state_equal(got, run_oracle(spark, log_dir, seed))


def test_cross_batch_duplicate_applied_once(spark, tmp_path):
    """Scenario 4 (cross-batch half): the same event redelivered in a LATER
    micro-batch must not change state (merge guard: equal commit ts is not
    strictly newer)."""
    from pyspark.sql import Row

    gcfg, icfg, log_dir, seed = build_env(spark, tmp_path)
    pipe = CDCPipeline(spark, icfg)
    pipe.run_to_completion(seed_df=seed)
    before = normalize(pipe.read_state().collect())

    # redeliver a real event from the log in a fresh batch with a new offset
    orig = (
        spark.read.parquet(log_dir)
        .filter("value IS NOT NULL AND value LIKE '%\"op\":\"c\"%'")
        .orderBy("offset")
        .limit(1)
        .collect()[0]
    )
    dup = spark.createDataFrame(
        [Row(topic=orig["topic"], partition=orig["partition"], offset=10**10,
             ts_ms=orig["ts_ms"], key=orig["key"], value=orig["value"])],
        "topic string, partition int, offset long, ts_ms long, key string, value string",
    )
    stats = pipe.process_batch(dup, batch_id=777001)
    after = normalize(pipe.read_state().collect())
    assert {r["doc_id"]: r for r in after} == {r["doc_id"]: r for r in before}


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_same_offset_redelivery_one_row_per_key(spark, tmp_path, merge_mode):
    """Scenario 4 (intra-batch half, Kafka at-least-once re-read): a batch
    holding one raw record twice under the SAME offset repeats the full
    (pk, wall, logical, seq) tuple. Both write modes must still store one
    row per key — before and after compaction."""
    from pyspark.sql import Row

    gcfg, icfg, log_dir, _ = build_env(
        spark, tmp_path, ingest_kw={"merge_mode": merge_mode, "snapshot_mode": "never"},
        write_seed=False,
    )
    pipe = CDCPipeline(spark, icfg)
    rows = [
        Row(topic="t", partition=0, offset=i, ts_ms=0, key=f'["k{i:02d}"]',
            value=f'{{"after":{{"doc_id":"k{i:02d}","tokens":[{i}],"n_tok":1,"source":"s"}},'
                  f'"op":"c","ts_ns":{1000 + i}}}')
        for i in range(30)
    ]
    raw = spark.createDataFrame(
        rows + [rows[7]],
        "topic string, partition int, offset long, ts_ms long, key string, value string",
    )
    pipe.process_batch(raw, batch_id=0)
    state = pipe.read_state()
    assert state.count() == 30 and state.select("doc_id").distinct().count() == 30
    pipe.table.compact(spark)
    assert pipe.read_state().count() == 30


def test_exact_drift_detects_dropped_column(spark, tmp_path):
    """hasSchemaChanged's second clause (…StreamingChangeEventSource.java:
    1302-1326): a registered NON-NULLABLE column absent from an event's
    after image signals a DROP COLUMN — exact mode must re-read the
    registry and evolve even though no NEW field appears. Absence without
    a registry change stays a no-op (partial-image noise)."""
    import json as _json

    from pyspark.sql import Row

    gcfg, icfg, log_dir, seed = build_env(
        spark, tmp_path, ingest_kw={"drift_mode": "exact"}
    )
    pipe = CDCPipeline(spark, icfg)
    pipe.run_to_completion(seed_df=seed)
    assert "source" in [f.name for f in pipe.table.schema.fields]

    partial = spark.createDataFrame(
        [Row(topic="t", partition=0, offset=10**9, ts_ms=0, key='["p1"]',
             value='{"after":{"doc_id":"p1","tokens":[1],"n_tok":1},"op":"c","ts_ns":1}')],
        "topic string, partition int, offset long, ts_ms long, key string, value string",
    )
    # non-nullable `source` missing but registry unchanged → no evolve
    pipe.process_batch(partial, batch_id=20000)
    assert "source" in [f.name for f in pipe.table.schema.fields]

    # registry advertises v3 without `source` → the same shape now evolves
    with open(os.path.join(log_dir, "_schema", "v3.json"), "w") as f:
        _json.dump({"version": 3, "columns": [
            {"name": "doc_id", "crdb_type": "STRING", "nullable": False},
            {"name": "tokens", "crdb_type": "INT4[]", "nullable": False},
            {"name": "n_tok", "crdb_type": "INT4", "nullable": False},
        ]}, f)
    dropped = spark.createDataFrame(
        [Row(topic="t", partition=0, offset=10**9 + 1, ts_ms=0, key='["p2"]',
             value='{"after":{"doc_id":"p2","tokens":[2],"n_tok":1},"op":"c","ts_ns":2}')],
        "topic string, partition int, offset long, ts_ms long, key string, value string",
    )
    pipe.process_batch(dropped, batch_id=20001)
    names = [f.name for f in pipe.table.schema.fields]
    assert "source" not in names and "doc_id" in names


def test_default_value_applied_on_evolution(spark, tmp_path):
    """C14 wired into evolution: after a registry DDL adds a column with a
    parseable default, rows written BEFORE the DDL read back the default
    (CockroachDBDefaultValueConverter.java:41-59 +
    CockroachDBSchemaEvolutionIT.java:115-249); a function default
    (now()) stays null — the DB computes those."""
    import json as _json

    gcfg, icfg, log_dir, seed = build_env(spark, tmp_path)
    pipe = CDCPipeline(spark, icfg)
    pipe.run_to_completion(seed_df=seed)
    n_before = pipe.read_state().count()
    assert n_before > 0

    with open(os.path.join(log_dir, "_schema", "v2.json"), "w") as f:
        _json.dump({"version": 2, "columns": [
            {"name": "doc_id", "crdb_type": "STRING", "nullable": False},
            {"name": "tokens", "crdb_type": "INT4[]", "nullable": False},
            {"name": "n_tok", "crdb_type": "INT4", "nullable": False},
            {"name": "source", "crdb_type": "STRING", "nullable": False},
            {"name": "status", "crdb_type": "STRING", "nullable": True,
             "default": "'PENDING':::STRING"},
            {"name": "score", "crdb_type": "INT8", "nullable": True,
             "default": "42:::INT8"},
            {"name": "created", "crdb_type": "TIMESTAMPTZ", "nullable": True,
             "default": "now():::TIMESTAMPTZ"},
        ]}, f)
    from pyspark.sql import Row
    post = spark.createDataFrame(
        [Row(topic="t", partition=0, offset=10**9, ts_ms=0, key='["zz"]',
             value='{"after":{"doc_id":"zz","tokens":[1],"n_tok":1,"source":"cc",'
                   '"status":"LIVE","score":7},"op":"c","ts_ns":99999999999999}')],
        "topic string, partition int, offset long, ts_ms long, key string, value string",
    )
    pipe.process_batch(post, batch_id=30000)

    state = {r["doc_id"]: r for r in pipe.read_state().collect()}
    assert state["zz"]["status"] == "LIVE" and state["zz"]["score"] == 7
    old = [r for k, r in state.items() if k != "zz"]
    assert len(old) == n_before
    assert all(r["status"] == "PENDING" for r in old)   # literal default
    assert all(r["score"] == 42 for r in old)
    assert all(r["created"] is None for r in old)       # function default -> null


def test_unposted_observe_falls_back_to_direct_aggregation(spark, tmp_path, monkeypatch):
    """A batch whose observe() metrics are never posted aggregates the
    batch directly: same counts, offsets, frontier and state as the
    observe path."""
    import dataclasses

    from debezium_connector_cockroachdb_spark.streaming import pipeline as pipeline_mod

    gcfg, icfg, log_dir, seed = build_env(spark, tmp_path)
    raw = spark.read.parquet(log_dir)

    def run(name):
        pipe = CDCPipeline(spark, dataclasses.replace(
            icfg, table_path=str(tmp_path / name), metrics_path=str(tmp_path / f"{name}_m")))
        pipe.run_snapshot(seed)
        return pipe, pipe.process_batch(raw, batch_id=0)

    ref, ref_stats = run("observed")
    monkeypatch.setattr(pipeline_mod, "observed", lambda obs, fallback=None: fallback())
    fb, fb_stats = run("fallback")
    keys = ["n_raw", "n_control", "n_malformed", "n_keyless", "min_seq", "max_seq", "frontier_hlc"]
    assert {k: fb_stats.get(k) for k in keys} == {k: ref_stats.get(k) for k in keys}
    assert fb_stats["frontier_hlc"] is not None
    assert sorted(normalize(fb.read_state().collect()), key=lambda r: r["doc_id"]) == sorted(
        normalize(ref.read_state().collect()), key=lambda r: r["doc_id"])


def test_poll_and_exact_drift_share_one_path(spark, tmp_path):
    """With no DDL in the log, the two drift modes differ only in their
    drift step: the same batches give the same per-batch stats, frontier
    and table version, and the same final state. The last batch holds only
    blank / tombstone values; it commits an empty version in both modes."""
    import dataclasses

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    gcfg, icfg, log_dir, seed = build_env(spark, tmp_path)
    raw = spark.read.parquet(log_dir)
    end = raw.agg(F.max("offset")).first()[0] + 1
    step = end // 4 + 1
    blank = spark.createDataFrame(
        [Row(topic="t", partition=0, offset=10**9 + i, ts_ms=0, key='["k"]', value=v)
         for i, v in enumerate([None, "", "   "])],
        "topic string, partition int, offset long, ts_ms long, key string, value string",
    )
    batches = [raw.filter(F.col("offset").between(lo, lo + step - 1)) for lo in range(0, end, step)]
    batches.append(blank)
    keys = ["table_version", "n_raw", "n_control", "n_malformed", "n_keyless",
            "min_seq", "max_seq", "frontier_hlc"]

    def run(mode):
        pipe = CDCPipeline(spark, dataclasses.replace(
            icfg, drift_mode=mode, table_path=str(tmp_path / mode),
            metrics_path=str(tmp_path / f"{mode}_m")))
        pipe.run_snapshot(seed)
        for i, b in enumerate(batches):
            pipe.process_batch(b, batch_id=i)
        metrics = {r["batch_id"]: {k: r[k] for k in keys}
                   for r in pipe.read_metrics().filter("phase = 'stream'").collect()}
        return pipe, metrics

    poll, poll_m = run("poll")
    exact, exact_m = run("exact")
    assert len(poll_m) == len(batches)
    assert exact_m == poll_m
    idle = poll_m[len(batches) - 1]
    assert idle["n_raw"] == idle["n_control"] == 3
    assert idle["table_version"] == poll_m[len(batches) - 2]["table_version"] + 1
    assert any(m["frontier_hlc"] for m in poll_m.values())
    assert sorted(normalize(exact.read_state().collect()), key=lambda r: r["doc_id"]) == sorted(
        normalize(poll.read_state().collect()), key=lambda r: r["doc_id"])

"""Workload ``cdc_mor``: a connector catching up on a changefeed backlog and
then following a live trickle, into one 16-bucket merge-on-read table.

Set-up (``setup_s``): ``sources/generator.py`` writes the log and the seed
rows, then a warm-up snapshot and one-batch drain of a small log run into a
table of their own. Untimed after that, the benchmark digests the log,
checks its pin and splits it into backlog and trickle files.

Phases, all on one table, one checkpoint and one log directory:

1. catch-up (closed loop): ``run_snapshot`` of the seed rows, then an
   availableNow drain of the backlog file in one micro-batch, in which
   auto-compaction fires. ``cpu_us_per_rec`` = CPU time
   of the engine's processes from ``run_snapshot`` start to the stream
   terminating, per backlog record. The wall-clock rate is printed too.
2. reads (traced runs only): a full live-state scan and a change-data-feed
   count over the table the catch-up wrote.
3. trickle (traced runs only, open loop): a timer thread renames
   TRICKLE_FILES small pre-generated log files into the watched directory
   on a fixed schedule over ``--seconds`` seconds while a continuous stream
   applies them. Freshness of a file = ``committed_at`` of the first metrics
   row whose ``max_seq`` reaches the file's last offset, minus the file's
   scheduled release time.

The final table state is checked against an independent DuckDB replay of
the log files applied (see ``oracle_mismatches``).
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import shutil
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from harness import cpu_seconds

NUM_BUCKETS = 16
KEYS = 20_000
CATCHUP_EVENTS = 150_000
CATCHUP_FILES = 1  # one file per micro-batch
TRICKLE_FILES = 100
TRICKLE_EVENTS_PER_FILE = 200
# soft compaction trigger (engine default 8), lowered so auto-compaction
# fires in the catch-up's batch (the snapshot wrote the first delta) and
# every other batch of the trickle, within one short run
MAX_DELTAS_PER_BUCKET = 1
# --seed n generates the log of generator seed n % PINNED_SEEDS; pins.json
# holds the record count and digest of each of them
PINNED_SEEDS = 64
PIN_KEY = "cdc_log"

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def generator_config(seed: int, num_keys: int = KEYS,
                     num_events: int = CATCHUP_EVENTS + TRICKLE_FILES * TRICKLE_EVENTS_PER_FILE):
    from debezium_connector_cockroachdb_spark.sources.generator import GeneratorConfig

    return GeneratorConfig(
        num_keys=num_keys,
        num_events=num_events,
        seed=seed % PINNED_SEEDS,
        resolved_every=2_000,
        n_files=8,
        dup_pct=3,
        tombstone_pct=40,
        hot_key_pct=10,
        n_partitions=8,
    )


def log_digest(paths: list[str]) -> tuple[int, str]:
    """Record count and an order-independent content digest of a log."""
    import duckdb

    con = duckdb.connect()
    n, d = con.sql(
        "SELECT count(*), sum(('0x' || substr(md5(concat_ws('|', topic, \"partition\", \"offset\", "
        "ts_ms, coalesce(key, '~'), coalesce(value, '~'))), 1, 15))::UBIGINT::HUGEINT) "
        f"FROM read_parquet({paths!r})"
    ).fetchone()
    con.close()
    return int(n), str(d)


def check_pin(seed: int, count: int, digest: str) -> bool:
    """Whether the log of ``seed`` still has its pinned record count and
    digest. A seed without a pin fails too."""
    with open(PINS) as f:
        want = json.load(f).get(PIN_KEY, {}).get(str(seed % PINNED_SEEDS))
    return want == [count, digest]


def warm_up(spark, run_dir) -> None:
    """Snapshot and a one-batch drain of a small log into a table of its
    own, so the timed catch-up starts on a warm JVM and warm Python workers.
    Compaction fires in it too."""
    from debezium_connector_cockroachdb_spark.sources.generator import seed_table, write_log
    from debezium_connector_cockroachdb_spark.streaming.pipeline import CDCPipeline, IngestConfig

    base = run_dir.sub("warmup")
    cfg = dataclasses.replace(generator_config(0, num_keys=1_000, num_events=3_000), n_files=1)
    write_log(spark, cfg, os.path.join(base, "log"))
    pipe = CDCPipeline(spark, IngestConfig(
        log_dir=os.path.join(base, "log"), table_path=os.path.join(base, "table"),
        metrics_path=os.path.join(base, "metrics"), checkpoint_dir=os.path.join(base, "ckpt"),
        num_buckets=NUM_BUCKETS, merge_mode="mor",
        mor_max_deltas_per_bucket=MAX_DELTAS_PER_BUCKET))
    pipe.run_snapshot(seed_table(spark, cfg))
    pipe.start_stream(available_now=True).awaitTermination()
    pipe.read_state().count()
    shutil.rmtree(base)


def setup(spark, run_dir, seed: int, seconds: int) -> dict:
    """Generate the log and the seed rows with ``sources/generator.py`` and
    warm up (``setup_s`` covers these). Then, untimed: digest the log, check
    its pin, and lay it out as CATCHUP_FILES backlog files plus
    TRICKLE_FILES small files, split by offset."""
    from debezium_connector_cockroachdb_spark.sources.generator import seed_table, write_log

    t0 = time.time()
    cfg = generator_config(seed)
    gen_dir = run_dir.sub("gen")
    write_log(spark, cfg, gen_dir)
    seed_path = run_dir.sub("seed.parquet")
    seed_table(spark, cfg).write.mode("overwrite").parquet(seed_path)
    gen_s = time.time() - t0
    warm_up(spark, run_dir)
    setup_s = time.time() - t0

    parts = sorted(glob.glob(os.path.join(gen_dir, "*.parquet")))
    count, digest = log_digest(parts)
    log_dir, stage_dir = run_dir.sub("log"), run_dir.sub("trickle_stage")
    os.makedirs(log_dir, exist_ok=True)
    os.makedirs(stage_dir, exist_ok=True)
    os.replace(os.path.join(gen_dir, "_schema"), os.path.join(log_dir, "_schema"))
    tbl = pq.read_table(parts).sort_by("offset")
    offs = tbl["offset"].to_numpy()
    ev = offs // 4  # offsets 4i..4i+3 belong to event i
    cut = np.searchsorted(ev, CATCHUP_EVENTS)
    backlog = []
    bounds = np.linspace(0, cut, CATCHUP_FILES + 1).astype(int)
    for j in range(CATCHUP_FILES):
        p = os.path.join(log_dir, f"backlog-{j:04d}.parquet")
        pq.write_table(tbl.slice(bounds[j], bounds[j + 1] - bounds[j]), p)
        backlog.append(p)
    trickle = []
    edges = np.searchsorted(
        ev, CATCHUP_EVENTS + TRICKLE_EVENTS_PER_FILE * np.arange(TRICKLE_FILES + 1)
    )
    for j in range(TRICKLE_FILES):
        lo, hi = edges[j], edges[j + 1]
        p = os.path.join(stage_dir, f"trickle-{j:04d}.parquet")
        pq.write_table(tbl.slice(lo, hi - lo), p)
        trickle.append((p, os.path.join(log_dir, os.path.basename(p)), int(offs[hi - 1])))
    shutil.rmtree(gen_dir)
    return {
        "log_dir": log_dir, "backlog": backlog, "trickle": trickle,
        "trickle_interval_s": seconds / TRICKLE_FILES, "seed_path": seed_path,
        "records": count, "digest": digest, "pinned": check_pin(seed, count, digest),
        "setup_s": setup_s, "gen_s": gen_s,
    }


def ingest_config(run, inp: dict, catchup: bool):
    from debezium_connector_cockroachdb_spark.streaming.pipeline import IngestConfig

    return IngestConfig(
        log_dir=inp["log_dir"],
        table_path=run.sub("table"),
        metrics_path=run.sub("metrics"),
        checkpoint_dir=run.sub("ckpt"),
        num_buckets=NUM_BUCKETS,
        merge_mode="mor",
        max_files_per_trigger=1 if catchup else None,
        mor_max_deltas_per_bucket=MAX_DELTAS_PER_BUCKET,
    )


ORACLE_SQL = """
WITH ev AS (
  SELECT "offset" AS off, key, value,
         json_extract(value, '$.after') AS after,
         json_extract_string(value, '$.op') AS op0,
         json_extract_string(value, '$.source.ts_hlc') AS hlc,
         json_extract(value, '$.ts_ns')::BIGINT AS ts_ns,
         json_extract_string(value, '$.resolved') AS resolved
  FROM read_parquet({log!r})
  WHERE value IS NOT NULL AND trim(value) <> ''
), typed AS (
  SELECT off, after,
         CASE WHEN op0 IN ('c', 'u', 'd', 'r') THEN op0
              WHEN after IS NULL THEN 'd' ELSE 'c' END AS op,
         CASE WHEN hlc IS NOT NULL THEN split_part(hlc, '.', 1)::BIGINT ELSE coalesce(ts_ns, 0) END AS wall,
         CASE WHEN hlc IS NOT NULL THEN coalesce(nullif(split_part(hlc, '.', 2), '')::BIGINT, 0) ELSE 0 END AS logical,
         coalesce(json_extract_string(after, '$.doc_id'),
                  CASE WHEN starts_with(trim(key), '[') THEN json_extract_string(key, '$[0]')
                       ELSE json_extract_string(key, '$.doc_id') END) AS pk
  FROM ev WHERE resolved IS NULL
), uniq AS (
  SELECT op, wall, logical, pk, min(off) AS off, any_value(after) AS after
  FROM typed WHERE pk IS NOT NULL GROUP BY op, wall, logical, pk
), last AS (
  SELECT * FROM uniq QUALIFY row_number() OVER (PARTITION BY pk ORDER BY wall DESC, logical DESC, off DESC) = 1
)
SELECT doc_id, tokens, n_tok, source FROM read_parquet({seed!r})
WHERE doc_id NOT IN (SELECT pk FROM last)
UNION ALL
SELECT pk, json_extract(after, '$.tokens')::INTEGER[], json_extract(after, '$.n_tok')::INTEGER,
       json_extract_string(after, '$.source')
FROM last WHERE op <> 'd'
"""


def oracle_mismatches(spark, pipe, inp: dict) -> int:
    """Rows in the symmetric difference between the engine's live state and
    the DuckDB replay of the same log: drop control rows, collapse duplicate
    deliveries by (op, wall, logical, pk), keep the last event per pk by
    (wall, logical, offset), apply seed rows first, deletes remove rows."""
    import duckdb

    log = sorted(glob.glob(os.path.join(inp["log_dir"], "*.parquet")))
    seed = sorted(glob.glob(os.path.join(inp["seed_path"], "*.parquet")))
    got = pipe.read_state().select("doc_id", "tokens", "n_tok", "source").toArrow()
    con = duckdb.connect()
    con.register("got", got)
    con.sql(f"CREATE TABLE want AS {ORACLE_SQL.format(log=log, seed=seed)}")
    n = con.sql(
        "SELECT (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)) + "
        "(SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))"
    ).fetchone()[0]
    con.close()
    return int(n)


class Trickle:
    """Open-loop release of pre-generated files on a fixed schedule."""

    def __init__(self, files: list[tuple[str, str, int]], interval: float):
        self.files = files
        self.interval = interval
        self.sched: list[float] = []
        self.actual: list[float] = []
        self._thread = threading.Thread(target=self._run, name="trickle", daemon=True)
        self.error: BaseException | None = None

    def start(self) -> None:
        t0 = time.time() + self.interval
        self.sched = [t0 + j * self.interval for j in range(len(self.files))]
        self._thread.start()

    def _run(self) -> None:
        try:
            for (src, dst, _), due in zip(self.files, self.sched):
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                now = time.time()
                os.utime(src, (now, now))
                os.replace(src, dst)  # atomic: the source never sees a partial file
                self.actual.append(time.time())
        except BaseException as e:  # surfaced by join()
            self.error = e

    def join(self) -> None:
        self._thread.join()
        if self.error is not None:
            raise self.error


def trickle_rows(metrics_dir: str, since: float) -> list[dict]:
    """Metrics rows of the stream batches committed since ``since``, in
    commit order."""
    files = glob.glob(os.path.join(metrics_dir, "*.parquet"))
    rows = [r for r in pq.read_table(files).to_pylist()
            if r["phase"] == "stream" and r["committed_at"] >= since and r["max_seq"] is not None]
    return sorted(rows, key=lambda r: r["committed_at"])


def freshness(files, sched, rows: list[dict]) -> list[float]:
    out = []
    for (_, _, last_off), due in zip(files, sched):
        hit = next((r for r in rows if r["max_seq"] >= last_off), None)
        if hit is None:
            raise RuntimeError(f"no committed batch covers offset {last_off}")
        out.append(hit["committed_at"] - due)
    return out


def backlog_stats(files, actual, rows) -> tuple[float, int]:
    """Mean files per trickle batch and the largest count of released but
    not yet committed files seen at any commit."""
    per_batch, backlog_max, prev = [], 0, -1
    for r in rows:
        n = sum(1 for _, _, off in files if prev < off <= r["max_seq"])
        per_batch.append(n)
        prev = max(prev, r["max_seq"])
        waiting = sum(1 for (_, _, off), t in zip(files, actual)
                      if t <= r["committed_at"] and off > r["max_seq"])
        backlog_max = max(backlog_max, waiting)
    return (sum(per_batch) / len(per_batch) if per_batch else 0.0), backlog_max


def run(spark, run_dir, inp: dict, tracer=None) -> dict:
    """Untraced: catch-up and result check. Traced: also the reads and the
    ``--seconds``-long open-loop trickle."""
    from contextlib import nullcontext

    from pyspark.sql import functions as F

    from debezium_connector_cockroachdb_spark.sources.lake import SnapshotTable
    from debezium_connector_cockroachdb_spark.streaming.pipeline import CDCPipeline

    def span(name):
        return tracer.span(name) if tracer else nullcontext()

    # ---- catch-up (closed loop): snapshot, then drain the backlog
    pipe = CDCPipeline(spark, ingest_config(run_dir, inp, catchup=True))
    seed_df = spark.read.parquet(inp["seed_path"])
    with span("pipeline.catchup") as sp_catchup:
        c0, t0 = cpu_seconds(spark), time.time()
        pipe.run_snapshot(seed_df)
        snap_version = SnapshotTable.load(pipe.cfg.table_path).meta["version"]
        pipe.start_stream(available_now=True).awaitTermination()
        catchup_s, catchup_cpu = time.time() - t0, cpu_seconds(spark) - c0
    backlog_records = sum(pq.ParquetFile(p).metadata.num_rows for p in inp["backlog"])
    notes = {"gen_s": inp["gen_s"], "warmup_s": inp["setup_s"] - inp["gen_s"], "pin": inp["pinned"], "log_records": inp["records"], "log_digest": inp["digest"],
             "backlog_records": backlog_records, "catchup_s": catchup_s,
             "catchup_rps": backlog_records / catchup_s, "catchup_cpu_s": catchup_cpu,
             "samples": {"setup_s": 1, "cpu_us_per_rec": 1}}
    detail = {"catchup_span": sp_catchup, "table_path": pipe.cfg.table_path,
              "manifest": SnapshotTable.load(pipe.cfg.table_path).meta["files"]}
    applied = backlog_records

    if tracer:
        # ---- reads on the table the catch-up wrote
        final_version = SnapshotTable.load(pipe.cfg.table_path).meta["version"]
        with span("lake.read_state") as sp:
            pipe.read_state().agg(F.count(F.lit(1)), F.sum(F.size("tokens")), F.sum("n_tok")).collect()
        detail["read_state_ms"] = sp.ms
        with span("lake.table_changes") as sp:
            n_changes = pipe.table.table_changes(spark, snap_version, final_version).count()
        detail["table_changes_ms"] = sp.ms
        if n_changes == 0:
            raise RuntimeError("empty change-data feed over the catch-up")

        # ---- trickle (open loop) on the same table and checkpoint
        pipe = CDCPipeline(spark, ingest_config(run_dir, inp, catchup=False))
        trickle = Trickle(inp["trickle"], inp["trickle_interval_s"])
        with span("pipeline.trickle"):
            q = pipe.start_stream(available_now=False)
            t_trickle = time.time()
            trickle.start()
            trickle.join()
            q.processAllAvailable()
            q.stop()
        rows = trickle_rows(pipe.cfg.metrics_path, t_trickle)
        fresh = freshness(inp["trickle"], trickle.sched, rows)
        detail["fresh"] = fresh
        detail["files_per_batch"], detail["backlog_max"] = backlog_stats(
            inp["trickle"], trickle.actual, rows)
        detail["late"] = [a - s for a, s in zip(trickle.actual, trickle.sched)]
        applied = inp["records"]
        notes.update(fresh_p50_s=float(np.percentile(fresh, 50)),
                     fresh_p90_s=float(np.percentile(fresh, 90)),
                     fresh_samples=len(fresh), gen_late_max_s=max(detail["late"]))

    # ---- result check, outside every timed region
    mismatches = oracle_mismatches(spark, pipe, inp)
    notes["mismatched_rows"] = mismatches
    return {
        "correct": mismatches == 0 and inp["pinned"],
        "attempted": applied,
        "metrics": {"cpu_us_per_rec": catchup_cpu * 1e6 / backlog_records},
        "notes": notes,
        "detail": detail,
    }

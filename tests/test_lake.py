"""Snapshot-table semantics: atomic versioned commits, bucket-pruned
delta-then-compact merge with commit-ts order, exactly-once batch replay,
tombstones, schema evolution (SURVEY §2.5, §2.10; W2/W5)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_connector_cockroachdb_spark.sources.lake import SnapshotTable

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

UPD_DDL = (
    "doc_id string, tokens array<int>, n_tok int, source string, "
    "op string, commit_wall_ns long, commit_logical long, seq long"
)


def upd(spark, rows):
    return spark.createDataFrame(rows, UPD_DDL)


def state(spark, t):
    t2 = SnapshotTable.load(t.path)
    return {r["doc_id"]: r.asDict() for r in t2.read_state(spark).collect()}


def mk(tmp_table_dir, buckets=4):
    return SnapshotTable.create(tmp_table_dir, SCHEMA, "doc_id", num_buckets=buckets)


def test_insert_update_delete_chain(spark, tmp_table_dir):
    t = mk(tmp_table_dir)
    t.merge(spark, upd(spark, [("a", [1], 1, "cc", "c", 100, 0, 1), ("b", [2], 1, "cc", "c", 100, 0, 2)]), "b1")
    t.merge(spark, upd(spark, [("a", [9, 9], 2, "cc", "u", 200, 0, 3)]), "b2")
    t.merge(spark, upd(spark, [("b", None, None, None, "d", 300, 0, 4)]), "b3")
    s = state(spark, t)
    assert set(s) == {"a"}
    assert list(s["a"]["tokens"]) == [9, 9]


def test_replayed_batch_skipped(spark, tmp_table_dir):
    """Exactly-once: same batch_key re-merged is a no-op commit-wise."""
    t = mk(tmp_table_dir)
    r1 = t.merge(spark, upd(spark, [("a", [1], 1, "cc", "c", 100, 0, 1)]), "b1")
    v1 = r1["version"]
    r2 = t.merge(spark, upd(spark, [("a", [777], 1, "cc", "u", 999, 0, 9)]), "b1")
    assert r2["skipped"] is True
    assert SnapshotTable.load(t.path).meta["version"] == v1
    assert list(state(spark, t)["a"]["tokens"]) == [1]


def test_stale_update_is_noop(spark, tmp_table_dir):
    """Commit-ts guard (FIXTURES scenario 12): older event in a later batch
    must not overwrite newer state."""
    t = mk(tmp_table_dir)
    t.merge(spark, upd(spark, [("a", [5], 1, "cc", "u", 500, 0, 10)]), "b1")
    t.merge(spark, upd(spark, [("a", [1], 1, "cc", "u", 100, 0, 20)]), "b2")
    assert list(state(spark, t)["a"]["tokens"]) == [5]


def test_delete_tombstone_blocks_resurrection(spark, tmp_table_dir):
    """A late older insert after a delete must stay dead."""
    t = mk(tmp_table_dir)
    t.merge(spark, upd(spark, [("a", None, None, None, "d", 500, 0, 10)]), "b1")
    t.merge(spark, upd(spark, [("a", [1], 1, "cc", "c", 100, 0, 20)]), "b2")
    assert state(spark, t) == {}


def test_same_hlc_tiebreak_by_seq(spark, tmp_table_dir):
    """Same-ts delete-then-insert: arrival order (offset) wins (scenario 6)."""
    t = mk(tmp_table_dir)
    t.merge(spark, upd(spark, [("a", [1], 1, "cc", "c", 100, 0, 1)]), "b1")
    t.merge(spark, upd(spark, [("a", None, None, None, "d", 200, 0, 2)]), "b2")
    t.merge(spark, upd(spark, [("a", [2], 1, "cc", "c", 200, 0, 3)]), "b3")
    assert list(state(spark, t)["a"]["tokens"]) == [2]


def test_bucket_pruning_rewrites_only_touched(spark, tmp_table_dir):
    t = mk(tmp_table_dir, buckets=8)
    rows = [(f"k{i}", [i], 1, "cc", "c", 100, 0, i) for i in range(64)]
    t.merge(spark, upd(spark, rows), "b1")
    files_v1 = {f["path"] for f in SnapshotTable.load(t.path).meta["files"]}
    r = t.merge(spark, upd(spark, [("k3", [99], 1, "cc", "u", 200, 0, 99)]), "b2")
    assert r["touched_buckets"] == 1
    files_v2 = SnapshotTable.load(t.path).meta["files"]
    carried = {f["path"] for f in files_v2} & files_v1
    # 7 of 8 buckets' files must be carried over untouched
    assert len(carried) >= 1 and len({f["bucket"] for f in files_v2 if f["path"] not in files_v1}) == 1
    assert list(state(spark, t)["k3"]["tokens"]) == [99]
    assert len(state(spark, t)) == 64


def test_schema_evolution_add_column_and_widen(spark, tmp_table_dir):
    t = mk(tmp_table_dir)
    t.merge(spark, upd(spark, [("a", [1], 1, "cc", "c", 100, 0, 1)]), "b1")
    new_schema = T.StructType(
        list(SCHEMA.fields)[:2]
        + [T.StructField("n_tok", T.LongType(), True)]  # widen int→long
        + [list(SCHEMA.fields)[3], T.StructField("lang", T.StringType(), True)]  # add column
    )
    t.evolve_schema(new_schema)
    u2 = spark.createDataFrame(
        [("b", [2], 2, "web", "en", "c", 200, 0, 2)],
        "doc_id string, tokens array<int>, n_tok long, source string, lang string, "
        "op string, commit_wall_ns long, commit_logical long, seq long",
    )
    t.merge(spark, u2, "b2")
    s = state(spark, t)
    assert s["a"]["lang"] is None and s["a"]["n_tok"] == 1  # old row null-filled + widened
    assert s["b"]["lang"] == "en" and s["b"]["n_tok"] == 2


def test_merge_is_idempotent_on_state(spark, tmp_table_dir):
    """Applying identical update content twice (different batch keys) leaves
    state unchanged — the foreachBatch-retry safety property."""
    t = mk(tmp_table_dir)
    rows = [("a", [1, 2], 2, "cc", "c", 100, 0, 1), ("b", None, None, None, "d", 100, 0, 2)]
    t.merge(spark, upd(spark, rows), "b1")
    s1 = state(spark, t)
    t.merge(spark, upd(spark, rows), "b2")
    assert state(spark, t) == s1


def test_empty_merge_commits_frontier(spark, tmp_table_dir):
    t = mk(tmp_table_dir)
    r = t.merge(spark, upd(spark, []), "b1", frontier=lambda: "12345.0000000001")
    assert r["n_updates"] == 0
    t2 = SnapshotTable.load(t.path)
    assert t2.meta["frontier"]["wall_ns"] == 12345
    assert t2.meta["frontier"]["logical"] == 1
    assert "b1" in t2.meta["applied"]


# ---------------- merge-on-read mode ----------------

def mk_mor(tmp_table_dir, buckets=4, max_deltas=3):
    return SnapshotTable.create(
        tmp_table_dir, SCHEMA, "doc_id", num_buckets=buckets,
        properties={"write.merge.mode": "mor", "mor.max-deltas-per-bucket": str(max_deltas)},
    )


def test_mor_matches_cow_semantics(spark, tmp_path):
    """Same batch sequence through CoW and MoR → identical final state
    (incl. stale-update guard, delete tombstones, same-HLC tie-break)."""
    batches = [
        ("b1", [("a", [1], 1, "cc", "c", 100, 0, 1), ("b", [2], 1, "cc", "c", 100, 0, 2)]),
        ("b2", [("a", [9, 9], 2, "cc", "u", 200, 0, 3), ("c", [3], 1, "web", "c", 150, 0, 4)]),
        ("b3", [("b", None, None, None, "d", 300, 0, 5)]),
        ("b4", [("a", [1], 1, "cc", "u", 50, 0, 9)]),   # stale → no-op
        ("b5", [("b", [7], 1, "cc", "c", 250, 0, 10)]),  # older than delete → stays dead
    ]
    cow = SnapshotTable.create(str(tmp_path / "cow"), SCHEMA, "doc_id", num_buckets=4)
    mor = mk_mor(str(tmp_path / "mor"))
    for key, rows in batches:
        cow.merge(spark, upd(spark, rows), key)
        mor.merge(spark, upd(spark, rows), key)
    s_cow = state(spark, cow)
    s_mor = state(spark, mor)
    assert {k: (list(v["tokens"]) if v["tokens"] else None) for k, v in s_cow.items()} == \
           {k: (list(v["tokens"]) if v["tokens"] else None) for k, v in s_mor.items()}
    assert set(s_mor) == {"a", "c"}


def test_mor_writes_deltas_not_rewrites(spark, tmp_path):
    mor = mk_mor(str(tmp_path / "mor"), max_deltas=100)
    rows = [(f"k{i}", [i], 1, "cc", "c", 100, 0, i) for i in range(64)]
    mor.merge(spark, upd(spark, rows), "b1")
    files_v1 = {f["path"] for f in SnapshotTable.load(mor.path).meta["files"]}
    mor.merge(spark, upd(spark, [("k3", [99], 1, "cc", "u", 200, 0, 99)]), "b2")
    meta = SnapshotTable.load(mor.path).meta
    # every v1 file carried over untouched; exactly one new delta file
    assert files_v1 <= {f["path"] for f in meta["files"]}
    new = [f for f in meta["files"] if f["path"] not in files_v1]
    assert len(new) == 1 and new[0]["kind"] == "delta"
    assert list(state(spark, mor)["k3"]["tokens"]) == [99]


def test_mor_auto_compaction_and_tombstone_gc(spark, tmp_path):
    mor = mk_mor(str(tmp_path / "mor"), buckets=2, max_deltas=2)
    for i in range(4):
        mor.merge(spark, upd(spark, [("a", [i], 1, "cc", "u", 100 + i, 0, i)]), f"b{i}")
    meta = SnapshotTable.load(mor.path).meta
    deltas = [f for f in meta["files"] if f.get("kind") == "delta"]
    assert len(deltas) <= 2  # compaction collapsed the pile
    assert list(state(spark, mor)["a"]["tokens"]) == [3]
    # a delete below the frontier survives compaction as a tombstone
    mor2 = SnapshotTable.load(mor.path)
    mor2.merge(spark, upd(spark, [("a", None, None, None, "d", 500, 0, 50)]), "bd",
               frontier=lambda: "1000.0000000000")
    mor2.compact(spark)
    assert [r["_deleted"] for r in mor2.read_raw(spark).collect()] == [True]
    assert state(spark, mor2) == {}


def test_mor_replay_skipped(spark, tmp_path):
    mor = mk_mor(str(tmp_path / "mor"))
    mor.merge(spark, upd(spark, [("a", [1], 1, "cc", "c", 100, 0, 1)]), "b1")
    r = mor.merge(spark, upd(spark, [("a", [9], 1, "cc", "u", 999, 0, 2)]), "b1")
    assert r["skipped"] is True
    assert list(state(spark, mor)["a"]["tokens"]) == [1]


def test_snapshot_isolation_for_pinned_readers(spark, tmp_table_dir):
    """A reader holding an older SnapshotTable keeps reading that exact
    version after newer commits (atomic metadata-pointer semantics)."""
    t = mk(tmp_table_dir)
    t.merge(spark, upd(spark, [("a", [1], 1, "cc", "c", 100, 0, 1)]), "b1")
    pinned = SnapshotTable.load(t.path)           # reader pins v1
    t.merge(spark, upd(spark, [("a", [9], 1, "cc", "u", 200, 0, 2),
                               ("b", [2], 1, "cc", "c", 200, 0, 3)]), "b2")
    old = {r["doc_id"]: list(r["tokens"]) for r in pinned.read_state(spark).collect()}
    new = {r["doc_id"]: list(r["tokens"]) for r in SnapshotTable.load(t.path).read_state(spark).collect()}
    assert old == {"a": [1]}
    assert new == {"a": [9], "b": [2]}


def test_evolve_rejects_pk_drop_and_type_change(spark, tmp_table_dir):
    """Bucket membership is frozen under xxhash64(pk) at the pk's type —
    evolution must reject pk drops and pk type changes."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("v", T.IntegerType(), True),
    ])
    t = SnapshotTable.create(tmp_table_dir, schema, "doc_id", num_buckets=4)
    with pytest.raises(ValueError, match="drop the pk"):
        t.evolve_schema(T.StructType([T.StructField("v", T.IntegerType(), True)]))
    with pytest.raises(ValueError, match="pk column type"):
        t.evolve_schema(T.StructType([
            T.StructField("doc_id", T.BinaryType(), True),
            T.StructField("v", T.IntegerType(), True),
        ]))
    # widening a NON-pk column stays allowed
    t.evolve_schema(T.StructType([
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("v", T.LongType(), True),
    ]))


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_merge_prunes_nonoverlapping_files(spark, tmp_table_dir, mode):
    """File-level pk-stats pruning: a base file whose pk [min,max] can't
    intersect any delta's range is carried, not rewritten (the Iceberg
    column-stats analogue — at 10^10 rows a point-y batch rewrites only
    the overlapping files of a bucket). Both modes prune in compaction;
    under MoR each merge is followed by an explicit compact."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("v", T.IntegerType(), True),
    ])
    t = SnapshotTable.create(tmp_table_dir, schema, "doc_id", num_buckets=1,
                             properties={"write.merge.mode": mode})
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id string, v int, op string, commit_wall_ns long, commit_logical long, seq long"
    )

    def apply(rows, key):
        s = t.merge(spark, mk(rows), key)
        return t.compact(spark) if mode == "mor" else s

    apply([(f"k00{i}", i, "c", 100, 0, i) for i in range(10)], "bA")
    low_files = [fe["path"] for fe in t.meta["files"]]
    assert all("pk_min" in fe for fe in t.meta["files"])

    # disjoint key range: the low-range file must be pruned, not rewritten
    s2 = apply([(f"k10{i}", 100 + i, "c", 200, 0, 100 + i) for i in range(10)], "bB")
    assert s2["pruned_files"] == len(low_files)
    assert set(low_files) <= {fe["path"] for fe in t.meta["files"]}
    assert t.read_state(spark).count() == 20

    # overlapping update rewrites only the high-range file
    s3 = apply([("k105", 999, "u", 300, 0, 999)], "bC")
    assert s3["pruned_files"] >= 1
    assert set(low_files) <= {fe["path"] for fe in t.meta["files"]}
    rows = {r["doc_id"]: r["v"] for r in t.read_state(spark).collect()}
    assert rows["k105"] == 999 and rows["k003"] == 3 and len(rows) == 20


def test_cow_state_exact_between_delta_and_compaction_commits(spark, tmp_table_dir, monkeypatch):
    """A CoW merge commits its delta, then compacts. If the compaction
    fails in between, reads still resolve the delta exactly, and the next
    merge compacts the leftover bucket along with its own."""
    t = mk(tmp_table_dir)
    t.merge(spark, upd(spark, [("a", [1], 1, "cc", "c", 100, 0, 1),
                               ("b", [2], 1, "cc", "c", 100, 0, 2)]), "b1")
    compact = SnapshotTable.compact
    failed = []

    def compact_fails_once(self, *args, **kwargs):
        if not failed:
            failed.append(True)
            raise RuntimeError("injected compaction failure")
        return compact(self, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "compact", compact_fails_once)
    with pytest.raises(RuntimeError, match="injected"):
        t.merge(spark, upd(spark, [("a", [9], 1, "cc", "u", 200, 0, 3)]), "b2")

    t = SnapshotTable.load(tmp_table_dir)
    leftover = {fe["bucket"] for fe in t.meta["files"] if fe.get("kind") == "delta"}
    assert leftover and "b2" in t.meta["applied"]
    assert {k: list(v["tokens"]) for k, v in state(spark, t).items()} == {"a": [9], "b": [2]}

    # the next merge touches another bucket and still folds the leftover
    keys = spark.createDataFrame([(k,) for k in "cdefghij"], "doc_id string")
    other = next(r["doc_id"] for r in keys.select("doc_id", t.bucket_expr().alias("b")).collect()
                 if r["b"] not in leftover)
    r = t.merge(spark, upd(spark, [(other, [3], 1, "cc", "c", 300, 0, 4)]), "b3")
    assert r["compacted_buckets"] == len(leftover) + 1
    assert not [fe for fe in t.meta["files"] if fe.get("kind") == "delta"]
    assert {k: list(v["tokens"]) for k, v in state(spark, t).items()} == {
        "a": [9], "b": [2], other: [3]}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_compaction_keeps_tombstones_past_the_frontier(spark, tmp_table_dir, mode):
    """The file source can deliver a later file first, so a batch's
    resolved frontier does not bound what is still to come. In both modes
    a delete stays a tombstone through compaction (MoR here compacts on
    every merge) and still shadows an older insert delivered after the
    frontier passed it."""
    t = mk(tmp_table_dir) if mode == "cow" else mk_mor(tmp_table_dir, max_deltas=0)
    t.merge(spark, upd(spark, [("a", None, None, None, "d", 500, 0, 10)]), "b1",
            frontier=lambda: "1000.0000000000")
    assert [r["_deleted"] for r in t.read_raw(spark).collect()] == [True]
    t.merge(spark, upd(spark, [("a", [1], 1, "cc", "c", 100, 0, 5)]), "b2")
    assert state(spark, t) == {}


def test_gc_orphans_removes_unreferenced(spark, tmp_table_dir):
    """Orphan GC: data files superseded by later commits are removed; the
    current snapshot is untouched."""
    import os as _os

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("v", T.IntegerType(), True),
    ])
    t = SnapshotTable.create(tmp_table_dir, schema, "doc_id", num_buckets=2)
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id string, v int, op string, commit_wall_ns long, commit_logical long, seq long"
    )
    for b in range(3):  # successive rewrites leave superseded files behind
        t.merge(spark, mk([(f"k{i}", b * 10 + i, "u" if b else "c", 100 + b, 0, b * 100 + i)
                           for i in range(6)]), f"b{b}")
    before_state = sorted((r["doc_id"], r["v"]) for r in t.read_state(spark).collect())

    all_files = []
    for root, _d, fns in _os.walk(_os.path.join(tmp_table_dir, "data")):
        all_files += fns  # incl. _SUCCESS/.crc markers — GC removes those too
    referenced = len(t.meta["files"])
    assert len(all_files) > referenced  # orphans exist

    gone = t.gc_orphans(retain_versions=2)
    assert gone["data_files"] == len(all_files) - referenced
    after_state = sorted((r["doc_id"], r["v"]) for r in t.read_state(spark).collect())
    assert after_state == before_state
    # re-load still works (current metadata retained)
    assert SnapshotTable.load(tmp_table_dir).meta["version"] == t.meta["version"]


def test_concurrent_commit_detected(spark, tmp_table_dir):
    """Optimistic-concurrency guard: a second writer handle that never saw
    the first writer's commit must fail loudly instead of clobbering it."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("v", T.IntegerType(), True),
    ])
    t1 = SnapshotTable.create(tmp_table_dir, schema, "doc_id", num_buckets=2)
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id string, v int, op string, commit_wall_ns long, commit_logical long, seq long"
    )
    t1.merge(spark, mk([("a", 1, "c", 100, 0, 1)]), "b1")
    stale = SnapshotTable.load(tmp_table_dir)
    t1.merge(spark, mk([("b", 2, "c", 101, 0, 2)]), "b2")  # advances _current
    with pytest.raises(RuntimeError, match="concurrent commit"):
        stale.merge(spark, mk([("c", 3, "c", 102, 0, 3)]), "b3")


def test_time_travel_reads_pinned_versions(spark, tmp_table_dir):
    t = mk(tmp_table_dir)
    t.merge(spark, upd(spark, [("a", [1], 1, "cc", "c", 100, 0, 1)]), "b1")
    v1 = t.meta["version"]
    t.merge(spark, upd(spark, [("a", [2], 1, "cc", "u", 200, 0, 2),
                               ("b", [3], 1, "web", "c", 200, 0, 3)]), "b2")
    past = SnapshotTable.load(tmp_table_dir, version=v1)
    assert {r["doc_id"]: list(r["tokens"]) for r in past.read_state(spark).collect()} == {"a": [1]}
    now = SnapshotTable.load(tmp_table_dir)
    assert set(r["doc_id"] for r in now.read_state(spark).collect()) == {"a", "b"}
    # a time-travel handle is read-only in practice: the OCC guard refuses its writes
    with pytest.raises(RuntimeError, match="concurrent commit"):
        past.merge(spark, upd(spark, [("z", [9], 1, "cc", "c", 900, 0, 9)]), "bz")
    with pytest.raises(FileNotFoundError, match="not retained"):
        SnapshotTable.load(tmp_table_dir, version=9999)


def test_table_changes_cdf(spark, tmp_table_dir):
    """CDF read: row-level diffs between two snapshot versions — insert /
    update_postimage / delete (with pre-image), no-ops excluded."""
    t = mk(tmp_table_dir)
    t.merge(spark, upd(spark, [
        ("a", [1], 1, "cc", "c", 100, 0, 1),
        ("b", [2], 1, "web", "c", 100, 0, 2),
        ("keep", [5], 1, "cc", "c", 100, 0, 3),
    ]), "b1")
    v1 = t.meta["version"]
    t.merge(spark, upd(spark, [
        ("a", [9, 9], 2, "cc", "u", 200, 0, 4),
        ("b", None, None, None, "d", 200, 0, 5),
        ("c", [7], 1, "books", "c", 200, 0, 6),
    ]), "b2")

    ch = {r["doc_id"]: r for r in t.table_changes(spark, v1).collect()}
    assert {k: v["_change_type"] for k, v in ch.items()} == {
        "a": "update_postimage", "b": "delete", "c": "insert",
    }
    assert list(ch["a"]["tokens"]) == [9, 9]
    assert list(ch["b"]["tokens"]) == [2]  # delete carries the pre-image
    assert "keep" not in ch  # unchanged rows excluded
    # from the empty table every live row is an insert
    ch0 = {r["doc_id"]: r["_change_type"] for r in t.table_changes(spark, 0).collect()}
    assert ch0 == {"a": "insert", "c": "insert", "keep": "insert"}  # b: never live vs v0


def test_gc_orphans_expires_unreadable_time_travel_versions(spark, tmp_table_dir):
    """Time-travel contract after GC: a metadata version whose data files
    were expired must be dropped too, so load(version=) fails fast with
    the 'not retained' error instead of succeeding and then failing
    mid-scan on missing parquet."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("v", T.IntegerType(), True),
    ])
    t = SnapshotTable.create(tmp_table_dir, schema, "doc_id", num_buckets=2)
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id string, v int, op string, commit_wall_ns long, commit_logical long, seq long"
    )
    # b1 then b2 rewrite the SAME keys → b1's files are orphans after b2
    v1 = t.merge(spark, mk([(f"k{i}", i, "c", 100, 0, i) for i in range(4)]), "b1")["version"]
    t.merge(spark, mk([(f"k{i}", 10 + i, "u", 200, 0, 100 + i) for i in range(4)]), "b2")

    t.gc_orphans(retain_versions=t.meta["version"] - v1 + 1)  # retains v1's manifest by count...
    # ...but v1's data is gone, so its manifest must have been expired too
    with pytest.raises(FileNotFoundError, match="not retained"):
        SnapshotTable.load(tmp_table_dir, version=v1)
    # the current version stays fully readable
    cur = SnapshotTable.load(tmp_table_dir)
    assert sorted(r["v"] for r in cur.read_state(spark).collect()) == [10, 11, 12, 13]


def test_table_changes_prunes_unchanged_buckets(spark, tmp_table_dir):
    """CDF reads must skip buckets whose manifests are identical across
    the two versions — only files of touched buckets appear in the scan."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("v", T.IntegerType(), True),
    ])
    t = SnapshotTable.create(tmp_table_dir, schema, "doc_id", num_buckets=16)
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id string, v int, op string, commit_wall_ns long, commit_logical long, seq long"
    )
    t.merge(spark, mk([(f"k{i}", i, "c", 100, 0, i) for i in range(64)]), "b1")
    v1 = t.meta["version"]
    t.merge(spark, mk([("k1", 99, "u", 200, 0, 100)]), "b2")

    cdf = t.table_changes(spark, v1)
    got = cdf.collect()
    assert [(r["doc_id"], r["v"], r["_change_type"]) for r in got] == [("k1", 99, "update_postimage")]

    # scan footprint: every input file belongs to a bucket that changed
    import json as _json
    import os

    changed_buckets = set()
    with open(os.path.join(tmp_table_dir, "metadata", f"v{v1}.json")) as f:
        old_files = {(fe["path"], fe.get("kind")): fe["bucket"] for fe in _json.load(f)["files"]}
    new_files = {(fe["path"], fe.get("kind")): fe["bucket"] for fe in t.meta["files"]}
    for key in set(old_files) ^ set(new_files):
        changed_buckets.add((old_files | new_files)[key])
    assert changed_buckets  # exactly the bucket(s) of k1
    for fp in cdf.inputFiles():
        rel = os.path.relpath(fp.replace("file:", ""), tmp_table_dir)
        bucket = int([p for p in rel.split(os.sep) if p.startswith("_bucket=")][0].split("=")[1])
        assert bucket in changed_buckets, f"scanned unchanged bucket {bucket}: {rel}"
    assert len(cdf.inputFiles()) < 16  # far fewer files than a full x2 scan


def test_compaction_cadence_policy(tmp_path):
    """Size-ratio cadence: past the soft file trigger a bucket compacts
    only when its delta rows reach the configured fraction of its base
    rows (the file trigger alone would rewrite a 10^10-row table every
    max_deltas batches — a compaction storm); the hard file cap forces
    compaction regardless (read health); manifests without row counts
    fall back to the file trigger."""
    t = SnapshotTable.create(
        str(tmp_path / "pol"), T.StructType([T.StructField("k", T.StringType())]), "k",
        num_buckets=4,
        properties={"write.merge.mode": "mor", "mor.max-deltas-per-bucket": "2",
                    "mor.compact-min-delta-ratio": "0.2",
                    "mor.hard-max-deltas-per-bucket": "5"},
    )

    def files(bucket, base_rows, delta_rows_list, with_rows=True):
        out = [{"path": f"data/v0/b{bucket}", "bucket": bucket, "schema_id": 0}]
        if with_rows:
            out[0]["rows"] = base_rows
        for i, r in enumerate(delta_rows_list):
            fe = {"path": f"data/v{i+1}/b{bucket}", "bucket": bucket,
                  "schema_id": 0, "kind": "delta"}
            if with_rows:
                fe["rows"] = r
            out.append(fe)
        return out

    # 3 tiny deltas on a huge base: past soft trigger (2) but ratio defers
    assert t._compaction_victims(files(0, 10_000, [5, 5, 5])) == []
    # same file count, delta rows reach 20% of base -> compacts
    assert t._compaction_victims(files(1, 100, [10, 10, 5])) == [1]
    # hard cap: 6 tiny deltas compact regardless of ratio
    assert t._compaction_victims(files(2, 10_000, [1] * 6)) == [2]
    # no base rows at all -> ratio trivially satisfied
    assert t._compaction_victims(files(3, 0, [1, 1, 1])[1:]) == [3]
    # legacy manifest without row counts -> file-count trigger alone
    assert t._compaction_victims(files(0, 10_000, [5, 5, 5], with_rows=False)) == [0]
    # at-or-below soft trigger never compacts
    assert t._compaction_victims(files(1, 100, [50, 50])) == []


def test_compaction_legacy_fallback_is_per_bucket(tmp_path):
    """A single legacy (rows-less) file entry in one bucket must not
    disable the ratio gate for OTHER buckets — that would silently
    reinstate the full-table compaction storm on any pre-upgrade table."""
    t = SnapshotTable.create(
        str(tmp_path / "pb"), T.StructType([T.StructField("k", T.StringType())]), "k",
        num_buckets=4,
        properties={"write.merge.mode": "mor", "mor.max-deltas-per-bucket": "2",
                    "mor.compact-min-delta-ratio": "0.2",
                    "mor.hard-max-deltas-per-bucket": "10"},
    )
    files = [
        # bucket 0: legacy base entry without rows — never rewritten
        {"path": "data/v0/b0", "bucket": 0, "schema_id": 0},
        # bucket 1: modern entries, big base + tiny deltas past soft trigger
        {"path": "data/v0/b1", "bucket": 1, "schema_id": 0, "rows": 10_000},
        {"path": "data/v1/b1", "bucket": 1, "schema_id": 0, "kind": "delta", "rows": 5},
        {"path": "data/v2/b1", "bucket": 1, "schema_id": 0, "kind": "delta", "rows": 5},
        {"path": "data/v3/b1", "bucket": 1, "schema_id": 0, "kind": "delta", "rows": 5},
    ]
    # ratio gate still defers bucket 1; bucket 0 has no deltas at all
    assert t._compaction_victims(files) == []
    # but a legacy bucket with its OWN delta pile falls back to the file trigger
    files += [
        {"path": f"data/v{i}/b0", "bucket": 0, "schema_id": 0, "kind": "delta"}
        for i in range(4, 7)
    ]
    assert t._compaction_victims(files) == [0]

"""Model-based test of the snapshot-versioned table lifecycle.

Hypothesis drives random operation sequences — append, COW/MOR delete,
COW/MOR upsert, compact, branch create/stage/publish/drop, rollback —
against a clustered table AND a pure-Python model (dict of key -> cell
coords; per-snapshot frozen states; a staging dict while a branch
lives).  After every operation the table's full contents must equal the
model's, and at the end EVERY recorded snapshot must time-travel to its
frozen state.  This is the cross-product coverage the per-feature tests
can't enumerate: e.g. a MOR delete staged on a branch, published, then
rolled past and read back via time travel.

Each write draws which writer takes its batch: a Python-list frame is
written by Spark jobs, a pandas-built frame (a local relation) by the
driver (``io.clustered._write_batch``), so the sequences cover both and
their mixes.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from spatial4n_spark.io import clustered as C

KEYS = 24  # base key universe (kept tiny: every op is a Spark job)


def _mkdf(spark, keys, local=False):
    """Deterministic (pid, lon, lat) rows for a key set — coords are a
    pure function of the key, so row equality is key equality. Built
    from a list (the Spark writer) or, with ``local``, from pandas (a
    local relation: the driver writer)."""
    rows = [
        (int(k), float((k * 37) % 360 - 180) / 2.0, float((k * 53) % 170 - 85) / 2.0)
        for k in sorted(keys)
    ]
    schema = "pid long, lon double, lat double"
    if local:
        import pandas as pd

        return spark.createDataFrame(pd.DataFrame(rows, columns=["pid", "lon", "lat"]), schema)
    return spark.createDataFrame(rows, schema)


def _table_keys(spark, path, snapshot_id=None):
    man = C.load_manifest(path, snapshot_id=snapshot_id)
    files = [e["file"] for e in man["files"]]
    if not files:
        return set()
    df = C._read_files(spark, path, man, files)
    return {int(r["pid"]) for r in df.select("pid").collect()}


OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 5), st.booleans()),
        st.tuples(st.just("delete"), st.integers(0, 3), st.booleans()),
        st.tuples(st.just("upsert"), st.integers(0, 3), st.booleans(), st.booleans()),
        st.tuples(st.just("compact"), st.just(0)),
        st.tuples(st.just("branch"), st.just(0)),
        st.tuples(st.just("stage"), st.integers(0, 5), st.booleans()),
        st.tuples(st.just("publish"), st.just(0)),
        st.tuples(st.just("dropbranch"), st.just(0)),
        st.tuples(st.just("rollback"), st.integers(0, 7)),
    ),
    min_size=3,
    max_size=7,
)


@given(ops=OPS)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_lifecycle_matches_model(spark, tmp_path_factory, ops):
    path = str(tmp_path_factory.mktemp("model"))
    base = set(range(0, KEYS, 2))
    C.write_clustered(_mkdf(spark, base), path, level=12, files=2)

    cur = set(base)                       # model: current main keys
    snaps = {1: frozenset(cur)}           # model: frozen state per sid
    staged = None                         # model: branch keys (if live)
    next_key = KEYS                       # fresh keys for appends
    branch_live = False

    def sid():
        return int(C.load_manifest(path)["snapshot_id"])

    for op in ops:
        kind = op[0]
        if kind == "append":
            batch = set(range(next_key, next_key + 4))
            next_key += 4
            if branch_live:
                C.append_clustered(_mkdf(spark, batch, op[2]), path, files=1,
                                   branch="b")
                staged |= batch
                snaps[C.table_refs(path)["b"]] = frozenset(staged)
            else:
                C.append_clustered(_mkdf(spark, batch, op[2]), path, files=1)
                cur |= batch
                snaps[sid()] = frozenset(cur)
        elif kind == "delete":
            mod = 2 + op[1]
            strat = "mor" if op[2] else "cow"
            tgt = staged if branch_live else cur
            hit = {k for k in tgt if k % mod == 0}
            r = C.delete_clustered(
                spark, path, F.col("pid") % mod == 0, strategy=strat,
                branch="b" if branch_live else None,
            )
            if branch_live:
                staged -= hit
                if not r.get("noop"):
                    snaps[C.table_refs(path)["b"]] = frozenset(staged)
            else:
                cur -= hit
                if not r.get("noop"):
                    snaps[sid()] = frozenset(cur)
        elif kind == "upsert":
            # replace two existing keys (coords identical — pure MERGE
            # semantics) and insert one fresh key
            tgt = staged if branch_live else cur
            some = sorted(tgt)[: 2]
            batch = set(some) | {next_key}
            next_key += 1
            C.upsert_clustered(
                spark, _mkdf(spark, batch, op[3]), path, key="pid",
                strategy="mor" if op[2] else "cow",
                branch="b" if branch_live else None,
            )
            if branch_live:
                staged |= batch
                snaps[C.table_refs(path)["b"]] = frozenset(staged)
            else:
                cur |= batch
                snaps[sid()] = frozenset(cur)
        elif kind == "compact":
            if not branch_live:
                C.compact_clustered(spark, path, files=2)
                snaps[sid()] = frozenset(cur)
        elif kind == "branch":
            if not branch_live:
                C.create_branch(path, "b")
                staged = set(cur)
                branch_live = True
        elif kind == "stage":
            if branch_live:
                batch = set(range(next_key, next_key + 3))
                next_key += 3
                C.append_clustered(_mkdf(spark, batch, op[2]), path, files=1,
                                   branch="b")
                staged |= batch
                snaps[C.table_refs(path)["b"]] = frozenset(staged)
        elif kind == "publish":
            if branch_live:
                C.fast_forward_clustered(path, "b")
                C.drop_branch(path, "b")
                cur = set(staged)
                staged = None
                branch_live = False
        elif kind == "dropbranch":
            if branch_live:
                C.drop_branch(path, "b")
                staged = None
                branch_live = False
        elif kind == "rollback":
            if not branch_live and snaps:
                tgt = sorted(snaps)[op[1] % len(snaps)]
                C.rollback_clustered(path, tgt)
                cur = set(snaps[tgt])
                snaps[sid()] = frozenset(cur)
        # invariant: main contents == model after EVERY op
        assert _table_keys(spark, path) == cur, (kind, ops)
        if branch_live:
            assert _table_keys(spark, path, snapshot_id="b") == staged, ops

    # every recorded snapshot time-travels to its frozen state
    for s, want in snaps.items():
        assert _table_keys(spark, path, snapshot_id=s) == set(want), (s, ops)

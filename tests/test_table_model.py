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

The model runs on a flat and on a day-partitioned table. Each row's
event time ``ts`` falls on one of four days, a pure function of its key
and of how often an upsert moved it (each upsert moves a replaced key
to the next day), so the model holds key -> day; a day table adds a
one-day compaction and a read with a time window. Every read runs on
both executors — the whole-sphere radius query at the default row
budget (the driver reads) and at budget 0 (Spark reads) — and they must
agree.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from spatial4n_spark.io import clustered as C

KEYS = 24  # base key universe (kept tiny: every op is a Spark job)


DAY0 = datetime.datetime(2024, 1, 1)
WINDOW = ("2024-01-02 00:00:00", "2024-01-03 23:59:59")  # days 1 and 2


def _mkdf(spark, rows, local=False):
    """Deterministic (pid, lon, lat, ts) rows for a {key: day} dict —
    coords are a pure function of the key, ``ts`` of the key and its
    day, so row equality is (key, day) equality. Built from a list (the
    Spark writer) or, with ``local``, from pandas (a local relation:
    the driver writer)."""
    rows = [
        (
            int(k), float((k * 37) % 360 - 180) / 2.0, float((k * 53) % 170 - 85) / 2.0,
            DAY0 + datetime.timedelta(days=d, seconds=k % 977),
        )
        for k, d in sorted(rows.items())
    ]
    schema = "pid long, lon double, lat double, ts timestamp_ntz"
    if local:
        import pandas as pd

        return spark.createDataFrame(pd.DataFrame(rows, columns=["pid", "lon", "lat", "ts"]), schema)
    return spark.createDataFrame(rows, schema)


def _table_keys(spark, path, monkeypatch, snapshot_id=None, window=(None, None)):
    """The table's key set — with ``window``, the keys whose ts lies in
    it — read by the driver (default budget) and by Spark (budget 0),
    which must agree."""

    def read():
        out = C.clustered_radius_query(
            spark, path, 0.0, 0.0, 20_016.0, snapshot_id=snapshot_id, t0=window[0], t1=window[1]
        )
        return {int(r[0]) for r in out.select("pid").collect()}

    local = read()
    with monkeypatch.context() as m:
        m.setattr(C, "_LOCAL_READ_ROWS", 0)
        assert read() == local, (snapshot_id, window)
    return local


def _in_window(model):
    return {k for k, d in model.items() if d in (1, 2)}


OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 5), st.booleans()),
        st.tuples(st.just("delete"), st.integers(0, 3), st.booleans()),
        st.tuples(st.just("upsert"), st.integers(0, 3), st.booleans(), st.booleans()),
        st.tuples(st.just("compact"), st.just(0)),
        st.tuples(st.just("compactday"), st.integers(0, 3)),
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
def test_lifecycle_matches_model(spark, tmp_path_factory, monkeypatch, ops):
    _check_lifecycle(spark, tmp_path_factory, monkeypatch, False, ops)


# the same model on a day-partitioned table; every write of a day table
# is a Spark job, so this profile draws fewer sequences
@given(ops=OPS)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_day_lifecycle_matches_model(spark, tmp_path_factory, monkeypatch, ops):
    _check_lifecycle(spark, tmp_path_factory, monkeypatch, True, ops)


def _check_lifecycle(spark, tmp_path_factory, monkeypatch, day, ops):
    path = str(tmp_path_factory.mktemp("model"))
    base = {k: k % 4 for k in range(0, KEYS, 2)}
    C.write_clustered(
        _mkdf(spark, base), path, level=12, files=2, **({"day_of": "ts"} if day else {})
    )

    cur = dict(base)                      # model: current main key -> day
    snaps = {1: dict(cur)}                # model: frozen state per sid
    staged = None                         # model: branch key -> day (if live)
    next_key = KEYS                       # fresh keys for appends
    branch_live = False

    def sid():
        return int(C.load_manifest(path)["snapshot_id"])

    for op in ops:
        kind = op[0]
        if kind == "append":
            batch = {k: k % 4 for k in range(next_key, next_key + 4)}
            next_key += 4
            if branch_live:
                C.append_clustered(_mkdf(spark, batch, op[2]), path, files=1,
                                   branch="b")
                staged |= batch
                snaps[C.table_refs(path)["b"]] = dict(staged)
            else:
                C.append_clustered(_mkdf(spark, batch, op[2]), path, files=1)
                cur |= batch
                snaps[sid()] = dict(cur)
        elif kind == "delete":
            mod = 2 + op[1]
            strat = "mor" if op[2] else "cow"
            tgt = staged if branch_live else cur
            hit = {k for k in tgt if k % mod == 0}
            r = C.delete_clustered(
                spark, path, F.col("pid") % mod == 0, strategy=strat,
                branch="b" if branch_live else None,
            )
            for k in hit:
                tgt.pop(k)
            if not r.get("noop"):
                snaps[C.table_refs(path)["b"] if branch_live else sid()] = dict(tgt)
        elif kind == "upsert":
            # replace two existing keys (coords identical, ts moved to
            # the next day — a key moves across day directories) and
            # insert one fresh key
            tgt = staged if branch_live else cur
            some = sorted(tgt)[: 2]
            batch = {k: (tgt[k] + 1) % 4 for k in some} | {next_key: next_key % 4}
            next_key += 1
            C.upsert_clustered(
                spark, _mkdf(spark, batch, op[3]), path, key="pid",
                strategy="mor" if op[2] else "cow",
                branch="b" if branch_live else None,
            )
            tgt |= batch
            snaps[C.table_refs(path)["b"] if branch_live else sid()] = dict(tgt)
        elif kind == "compact":
            if not branch_live:
                C.compact_clustered(spark, path, files=2)
                snaps[sid()] = dict(cur)
        elif kind == "compactday":
            # one day of a day table (the whole flat table): the day's
            # files are rewritten, the others kept, the rows unchanged
            if not branch_live:
                C.compact_clustered(
                    spark, path, files=2, day=f"2024-01-0{op[1] + 1}" if day else None
                )
                snaps[sid()] = dict(cur)
        elif kind == "branch":
            if not branch_live:
                C.create_branch(path, "b")
                staged = dict(cur)
                branch_live = True
        elif kind == "stage":
            if branch_live:
                batch = {k: k % 4 for k in range(next_key, next_key + 3)}
                next_key += 3
                C.append_clustered(_mkdf(spark, batch, op[2]), path, files=1,
                                   branch="b")
                staged |= batch
                snaps[C.table_refs(path)["b"]] = dict(staged)
        elif kind == "publish":
            if branch_live:
                C.fast_forward_clustered(path, "b")
                C.drop_branch(path, "b")
                cur = dict(staged)
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
                cur = dict(snaps[tgt])
                snaps[sid()] = dict(cur)
        # invariant: main contents == model after EVERY op
        assert _table_keys(spark, path, monkeypatch) == set(cur), (kind, ops)
        if branch_live:
            assert _table_keys(spark, path, monkeypatch, snapshot_id="b") == set(staged), ops

    # every recorded snapshot time-travels to its frozen state, and on a
    # day table so does its time window
    for s, want in snaps.items():
        assert _table_keys(spark, path, monkeypatch, snapshot_id=s) == set(want), (s, ops)
        if day:
            got = _table_keys(spark, path, monkeypatch, snapshot_id=s, window=WINDOW)
            assert got == _in_window(want), (s, ops)

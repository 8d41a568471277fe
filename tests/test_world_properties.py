"""Property-based World semantics (SURVEY.md §5 strategy (d)): random
op sequences (upsert with relocation, delete, interspersed flushes)
must leave the world equal to a trivial dict model — id uniqueness and
value-predicate reads included. ``read`` ops check a snapshot and a
point get against the model in the middle of a sequence, while ops
are pending, so a resolution reused past a later write would show.

The reference invariants under test: upsert keyed on dim 0
(src/world.rs:553-567), dim mutation relocates the row to its new
chunk with exactly one copy visible (src/world/iter.rs:193-211),
delete removes by id (src/world.rs:77-87)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dmds_spark.core.dims import DimSpec, WorldSpec
from dmds_spark.world import World

IDS = st.integers(min_value=0, max_value=255)
VALS = st.integers(min_value=0, max_value=255)

OPS = st.lists(
    st.one_of(
        st.tuples(st.just("upsert"), IDS, VALS),
        st.tuples(st.just("delete"), IDS, st.just(0)),
        st.tuples(st.just("flush"), st.just(0), st.just(0)),
        st.tuples(st.just("read"), IDS, st.just(0)),
    ),
    min_size=1,
    max_size=12,
)


def _pairs(df) -> set:
    return {(int(r["d0"]), r["d1"]) for r in df.select("d0", "d1").collect()}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=OPS)
def test_world_matches_model(spark, tmp_path_factory, ops):
    spec = WorldSpec([DimSpec("d0", 0, 255, 16), DimSpec("d1", 0, 255, 16)])
    w = World(spark, spec, str(tmp_path_factory.mktemp("pw")) + "/world")
    model: dict[int, int] = {}
    for kind, i, v in ops:
        if kind == "upsert":
            w.upsert(spark.createDataFrame([(i, v)], ["d0", "d1"]))
            model[i] = v
        elif kind == "delete":
            w.delete_ids([i])
            model.pop(i, None)
        elif kind == "read":
            assert _pairs(w.snapshot()) == set(model.items())
            assert _pairs(w.get(i)) == ({(i, model[i])} if i in model else set())
        else:
            w.flush()
    assert _pairs(w.snapshot()) == set(model.items())
    # value-predicate read agrees with the model (relocated rows are
    # found at their NEW dim value, never the old one)
    lo, hi = 64, 191
    sel = w.select(1, (lo, hi))
    read = {(r["d0"], r["d1"]) for r in w.read(sel).select("d0", "d1").collect()}
    assert read == {(k, x) for k, x in model.items() if lo <= x <= hi}


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=OPS)
def test_u64_world_matches_model(spark, tmp_path_factory, ops):
    """The same dict-model equivalence on a FULL-u64 world: ids live
    past 2^63 (DECIMAL(20,0) dim column), the secondary dim relocates,
    and every upsert/delete/flush interleaving must agree with the
    model — the decimal write path earns the same property guarantee
    as the long one."""
    base = 2**63  # every id beyond LongType
    spec = WorldSpec(
        [
            DimSpec("d0", base, base + 2**20 - 1, 2**12, u64=True),
            DimSpec("d1", 0, 255, 16),
        ]
    )
    w = World(spark, spec, str(tmp_path_factory.mktemp("pu")) + "/world")
    model: dict[int, int] = {}
    for kind, i, v in ops:
        uid = base + i * 4099  # spread across chunks, all past 2^63
        if kind == "upsert":
            w.insert_rows([{"d0": uid, "d1": v}])
            model[uid] = v
        elif kind == "delete":
            w.delete_ids([uid])
            model.pop(uid, None)
        elif kind == "read":
            assert _pairs(w.snapshot()) == set(model.items())
            assert _pairs(w.get(uid)) == (
                {(uid, model[uid])} if uid in model else set()
            )
        else:
            w.flush()
    assert _pairs(w.snapshot()) == set(model.items())
    lo, hi = 64, 191
    sel = w.select(1, (lo, hi))
    read = {
        (int(r["d0"]), r["d1"])
        for r in w.read(sel).select("d0", "d1").collect()
    }
    assert read == {(k, x) for k, x in model.items() if lo <= x <= hi}

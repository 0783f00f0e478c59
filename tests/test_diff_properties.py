"""Property-based differential testing of the diff kernel.

A pure-Python model implements the reference's semantics literally
(``DbalTarget.php:66-85`` + the CR hidden-row refinement
``ContentRepositoryTarget.php:95-119``); hypothesis generates arbitrary
source/target states — duplicate-free keyed maps with optional versions
and hidden flags — and every generated case must match
:func:`compute_changes` exactly.

Examples are capped (Spark job per case) but minimized failures still
shrink to tiny states.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from wwwision_importservice_spark.operators.diff import compute_changes

IDS = st.text(alphabet="abcd", min_size=1, max_size=2)
VERSIONS = st.one_of(st.none(), st.integers(min_value=0, max_value=5))


def model_diff(source, local, force=False, skip_added=False, skip_removed=False):
    """The reference algorithm, literally (per-record loop over hash maps)."""
    out = {}
    for sid, sver in source.items():
        if sid not in local:
            if not skip_added:
                out[sid] = "add"
        else:
            lver, _hidden = local[sid]
            if force or sver is None or lver is None or sver > lver:
                out[sid] = "update"
    for lid, (lver, hidden) in local.items():
        if lid not in source and not hidden:
            if not skip_removed:
                out[lid] = "remove"
    return out


STATES = st.tuples(
    st.dictionaries(IDS, VERSIONS, max_size=6),  # source: id -> version
    st.dictionaries(  # local: id -> (version, hidden)
        IDS, st.tuples(VERSIONS, st.booleans()), max_size=6
    ),
    st.booleans(),  # force_updates
    st.booleans(),  # skip_added
    st.booleans(),  # skip_removed
)


def run_kernel(spark, source, local, force, skip_added, skip_removed):
    src_rows = [(k, v) for k, v in source.items()]
    loc_rows = [(k, v, h) for k, (v, h) in local.items()]
    src = spark.createDataFrame(src_rows or [("zz", None)], "_id string, _version long")
    if not src_rows:
        src = src.filter("false")
    loc = spark.createDataFrame(
        loc_rows or [("zz", None, False)], "id string, version long, hidden boolean"
    )
    if not loc_rows:
        loc = loc.filter("false")
    kw = dict(
        force_updates=force,
        skip_added=skip_added,
        skip_removed=skip_removed,
        local_id_col="id",
        local_version_col="version",
        local_hidden_col="hidden",
    )
    cdc = compute_changes(src, loc, **kw)
    return {r["_id"]: r["change_type"] for r in cdc.collect()}


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
    derandomize=True,
)
@given(STATES)
def test_diff_matches_reference_model(spark, state):
    source, local, force, skip_added, skip_removed = state
    want = model_diff(source, local, force, skip_added, skip_removed)
    got = run_kernel(spark, source, local, force, skip_added, skip_removed)
    assert got == want


# ------------------------------------------------------------------ #
# K1 last-write-wins keying vs the assoc-array-overwrite model
# ------------------------------------------------------------------ #

ROWS = st.lists(
    st.tuples(IDS, st.integers(min_value=0, max_value=9), st.text(max_size=3)),
    max_size=12,
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
    derandomize=True,
)
@given(ROWS)
def test_dedup_last_wins_matches_model(spark, rows):
    """K1: for every id, the surviving row is the one with the greatest
    order value (PHP assoc-overwrite with explicit order,
    ``DataRecords.php:39-41``). Ties on (id, ord) may keep either
    tied row — the model compares on the deterministic (ord, payload)
    max, matching the engine's struct-lexicographic tiebreak."""
    from pyspark.sql import functions as F

    from wwwision_importservice_spark.record import dedup_last_wins

    want = {}
    for rid, ord_, payload in rows:
        cur = want.get(rid)
        if cur is None or (ord_, payload) > cur:
            want[rid] = (ord_, payload)

    df = spark.createDataFrame(
        rows or [("z", 0, "")], "_id string, ord long, payload string"
    )
    if not rows:
        df = df.filter("false")
    out = dedup_last_wins(df, "_id", F.struct("ord", "payload"))
    got = {r["_id"]: (r["ord"], r["payload"]) for r in out.collect()}
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
    derandomize=True,
)
@given(STATES)
def test_diff_with_id_prefix_matches_model(spark, state):
    """J6 in the property space: local ids carry a prefix that the kernel
    strips before the join (the reference instead probes prefixed keys
    with unprefixed ids and mistakenly force-updates everything —
    documented divergence in operators/diff.py). The model therefore
    runs on UNPREFIXED ids and must agree with the kernel fed prefixed
    local state."""
    source, local, force, skip_added, skip_removed = state
    want = model_diff(source, local, force, skip_added, skip_removed)

    src_rows = [(k, v) for k, v in source.items()]
    loc_rows = [("node-" + k, v, h) for k, (v, h) in local.items()]
    src = spark.createDataFrame(
        src_rows or [("zz", None)], "_id string, _version long"
    )
    if not src_rows:
        src = src.filter("false")
    loc = spark.createDataFrame(
        loc_rows or [("zz", None, False)],
        "id string, version long, hidden boolean",
    )
    if not loc_rows:
        loc = loc.filter("false")
    cdc = compute_changes(
        src,
        loc,
        force_updates=force,
        skip_added=skip_added,
        skip_removed=skip_removed,
        local_id_col="id",
        local_version_col="version",
        local_hidden_col="hidden",
        id_prefix="node-",
    )
    got = {r["_id"]: r["change_type"] for r in cdc.collect()}
    assert got == want

"""Property-based tests (SURVEY.md §5.2 #3, hypothesis) for the ETL
operators with the subtlest semantics:

* combine_rows — one row per id; every output cell is the sorted-
  distinct ', '-fold of its group's values (with the reference's
  substring-skip), null iff the group saw only nulls.
* cascade_delete — after deleting bad parent ids, no surviving child
  references a bad id and no surviving child has all parent-FKs null
  (the negation of cds_transformation_functions.py:189-193).
* id_validation — tables and both reports equal a plain-Python
  transcription of the reference's sequential algorithm (orphan step,
  then conflict step, each behind its own guard and cascade), whatever
  the node order.
* clean_data — every output value of an enum column is in
  enum ∪ clean-dict range ∪ {nan_value, NOT_SPECIFIED} ∪ original
  values (passthrough).

Examples are kept small (Spark job per example); hypothesis explores
structure (nulls, duplicates, synonyms, orphan shapes), not volume.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cds_etl_spark.model.schema import Model, PropDef, Relationship
from cds_etl_spark.operators import cascade_delete, clean_data, id_validation
from cds_etl_spark.operators.merge import combine_rows_node

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

ids = st.integers(min_value=0, max_value=4)
vals = st.one_of(st.none(), st.sampled_from(["a", "b", "ab", "c, a", " x "]))


@given(rows=st.lists(st.tuples(ids, vals, vals), min_size=1, max_size=12))
@settings(**SETTINGS)
def test_combine_rows_properties(spark, rows):
    df = spark.createDataFrame(rows, "id int, v1 string, v2 string")
    out = combine_rows_node(df, "id").collect()
    assert len(out) == len({r[0] for r in rows})
    by_id = {}
    for i, v1, v2 in rows:
        by_id.setdefault(i, ([], []))
        if v1 is not None:
            by_id[i][0].append(v1)
        if v2 is not None:
            by_id[i][1].append(v2)
    for row in out:
        gid = int(row["id"])
        for col, seen in zip(("v1", "v2"), by_id[gid]):
            cell = row[col]
            if not seen:
                assert cell is None
                continue
            # Operator semantic: sort the DISTINCT ORIGINAL values,
            # stringify-with-trim at fold time, ', '-join skipping
            # values already present as substrings of the accumulator.
            acc = ""
            for s in (v.strip() for v in sorted(set(seen))):
                if acc == "":
                    acc = s
                elif s not in acc:
                    acc = f"{acc}, {s}"
            assert cell == acc


PARENT_MAPPING = [
    {"node": "participant", "parent_node": "study", "property": "sid",
     "relationship": "of_study"},
    {"node": "sample", "parent_node": "participant", "property": "pid",
     "relationship": "of_participant"},
]
NODE_ID_FIELD = {"study": "sid", "participant": "pid", "sample": "smid"}

sid = st.one_of(st.none(), st.integers(min_value=0, max_value=3))


@given(
    # Unique entity ids: a duplicated pid would exercise the
    # reference's duplicate-id quirk (cascading off a deleted row's id
    # deletes children of a surviving same-id row) — that edge belongs
    # to id_validation, which dedups before cascading.
    parts=st.dictionaries(st.integers(0, 9), sid, min_size=1, max_size=8),
    samps=st.dictionaries(
        st.integers(10, 19),
        st.one_of(st.none(), st.integers(0, 9)),
        max_size=8,
    ),
    bad=st.lists(st.integers(min_value=0, max_value=3), max_size=3),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cascade_delete_properties(spark, parts, samps, bad):
    parts = list(parts.items())
    samps = list(samps.items())
    tables = {
        "participant": spark.createDataFrame(
            [(p, s) for p, s in parts], "pid int, `study.sid` int"
        ),
        "sample": spark.createDataFrame(
            [(m, p) for m, p in samps] or [(None, None)],
            "smid int, `participant.pid` int",
        ),
    }
    bad_df = spark.createDataFrame([(b,) for b in bad] or [(None,)], "sid int")
    out = cascade_delete(tables, PARENT_MAPPING, NODE_ID_FIELD, bad_df, "study")

    surviving_parts = out["participant"].collect()
    bad_set = set(bad)
    # No survivor references a deleted study; none is FK-orphaned.
    assert all(
        r["study.sid"] is not None and r["study.sid"] not in bad_set
        for r in surviving_parts
    )
    # Exactly the participants with a live study FK survive.
    assert sorted((r["pid"], r["study.sid"]) for r in surviving_parts) == sorted(
        (p, s) for p, s in parts if s is not None and s not in bad_set
    )
    # Cascade: samples of DELETED participants are gone, as are samples
    # with a null FK. A sample referencing a pid that never existed is a
    # dangling edge — cascade_delete leaves it for orphan detection
    # (id_validation), exactly like the reference's delete_children
    # (cds_transformation_functions.py:178-195) which only nulls FKs in
    # its delete_list.
    deleted_pids = {p for p, s in parts if s is None or s in bad_set}
    surviving_samps = [
        r for r in out["sample"].collect() if r["smid"] is not None
    ]
    assert all(
        r["participant.pid"] is not None
        and r["participant.pid"] not in deleted_pids
        for r in surviving_samps
    )
    # Exactly the samples whose FK survived remain.
    assert sorted(r["smid"] for r in surviving_samps) == sorted(
        m for m, p in samps if p is not None and p not in deleted_pids
    )


# Four nodes: file has two parents, and its sample edge is many_to_many.
VAL_COLS = {
    "study": ["sid", "name"],
    "participant": ["pid", "g", "study.sid"],
    "sample": ["smid", "t", "participant.pid"],
    "file": ["fid", "size", "sample.smid", "participant.pid"],
}
VAL_ID = {"study": "sid", "participant": "pid", "sample": "smid", "file": "fid"}
VAL_MAPPING = [
    {"node": "participant", "parent_node": "study", "property": "sid", "relationship": "of_study"},
    {"node": "sample", "parent_node": "participant", "property": "pid",
     "relationship": "of_participant"},
    {"node": "file", "parent_node": "sample", "property": "smid", "relationship": "from_sample"},
    {"node": "file", "parent_node": "participant", "property": "pid",
     "relationship": "of_participant_file"},
]
VAL_MODEL = Model(
    nodes={"study": ["sid", "name"], "participant": ["pid", "g"], "sample": ["smid", "t"],
           "file": ["fid", "size"]},
    relationships=[
        Relationship(name="of_study", mul="many_to_one", src="participant", dst="study"),
        Relationship(name="of_participant", mul="many_to_one", src="sample", dst="participant"),
        Relationship(name="from_sample", mul="many_to_many", src="file", dst="sample"),
        Relationship(name="of_participant_file", mul="many_to_one", src="file",
                     dst="participant"),
    ],
)


def _ids(prefix, n):
    return st.one_of(st.none(), st.sampled_from([f"{prefix}{i}" for i in range(n)]))


val = st.one_of(st.none(), st.sampled_from(["x", "y"]))
val_tables = st.fixed_dictionaries({
    "study": st.lists(st.tuples(_ids("s", 2), val), max_size=4),
    "participant": st.lists(st.tuples(_ids("p", 3), val, _ids("s", 3)), max_size=6),
    "sample": st.lists(st.tuples(_ids("m", 3), val, _ids("p", 3)), max_size=6),
    "file": st.lists(st.tuples(_ids("f", 3), val, _ids("m", 3), _ids("p", 3)), max_size=8),
})


def _fks(node, cols):
    return [f"{r['parent_node']}.{r['property']}" for r in VAL_MAPPING
            if r["node"] == node and f"{r['parent_node']}.{r['property']}" in cols]


def _ref_cascade(tables, bad, parent):
    """`delete_children` (cds_transformation_functions.py:178-195)."""
    for rule in VAL_MAPPING:
        if rule["parent_node"] != parent:
            continue
        child, fk = rule["node"], f"{parent}.{rule['property']}"
        cols = VAL_COLS[child]
        j = cols.index(fk)
        rows = [r[:j] + (None,) + r[j + 1:] if r[j] is not None and r[j] in bad else r
                for r in tables[child]]
        fk_pos = [cols.index(c) for c in _fks(child, cols)]

        def all_null(r):
            return all(r[k] is None for k in fk_pos)

        tables[child] = rows
        if any(r["parent_node"] == child for r in VAL_MAPPING):
            _ref_cascade(tables, {r[0] for r in rows if all_null(r)}, child)
            rows = tables[child]
        tables[child] = [r for r in rows if not all_null(r)]


def _ref_id_validation(tables):
    """The reference's sequential `id_validation` (:209-281): per node,
    orphans are deleted and cascaded behind their own guard, then the
    non-exempt conflicting duplicates, behind theirs."""
    tables = {n: list(rows) for n, rows in tables.items()}
    id_rep, parent_rep = set(), set()
    for node in tables:
        cols = VAL_COLS[node]
        rows = [r for r in dict.fromkeys(tables[node]) if r[0] is not None]
        tables[node] = rows
        fks = _fks(node, cols)
        if fks:
            orphan = {
                i for i in {r[0] for r in rows}
                if all(any(r[0] == i and r[cols.index(fk)] is None for r in rows) for fk in fks)
            }
            if orphan:
                tables[node] = [r for r in rows if r[0] not in orphan]
                _ref_cascade(tables, orphan, node)
            parent_rep |= {(node, i, fks[-1]) for i in orphan}
        rows = tables[node]
        m2m = any(VAL_MODEL.mul_of(r["relationship"]) == "many_to_many"
                  for r in VAL_MAPPING if r["node"] == node)
        bad = {}
        for i in {r[0] for r in rows}:
            group = [r for r in rows if r[0] == i]
            if len(group) < 2:
                continue
            conf = [c for k, c in enumerate(cols) if k and len({r[k] for r in group}) > 1]
            if not (m2m and len(conf) == 1 and conf[0] not in VAL_MODEL.nodes[node]):
                bad[i] = conf
        if bad:
            tables[node] = [r for r in rows if r[0] not in bad]
            _ref_cascade(tables, set(bad), node)
        id_rep |= {(node, i, "[" + ", ".join(f"'{c}'" for c in conf) + "]")
                   for i, conf in bad.items()}
    return tables, id_rep, parent_rep


def _sorted_rows(rows):
    return sorted((tuple(r) for r in rows), key=repr)


@given(rows=val_tables, order=st.permutations(list(VAL_COLS)))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_id_validation_matches_sequential_reference(spark, rows, order):
    rows = {node: rows[node] for node in order}
    tables = {
        node: spark.createDataFrame(
            rows[node], ", ".join(f"`{c}` string" for c in VAL_COLS[node]))
        for node in order
    }
    out, id_report, parent_report = id_validation(tables, VAL_ID, VAL_MAPPING, VAL_MODEL)
    want, want_id, want_parent = _ref_id_validation(rows)
    for node in order:
        assert out[node].columns == VAL_COLS[node]
        assert _sorted_rows(out[node].collect()) == _sorted_rows(want[node]), node
    assert {tuple(r) for r in id_report.collect()} == want_id
    assert {tuple(r) for r in parent_report.collect()} == want_parent


ENUM = ("Red", "Green", "Blue")
SYNONYMS = {"red": "Red", "GREEN": "Green", "nan_value": "Not specified in data"}
CLEAN_MODEL = Model(
    nodes={},
    relationships=[],
    props={"color": PropDef("color", enum=tuple(ENUM))},
)

raw_colors = st.one_of(
    st.none(),
    st.sampled_from(["Red", "red", "GREEN", "Blue", "mauve", "", "XXLONGXX"]),
)


@given(rows=st.dictionaries(st.integers(0, 99), raw_colors, min_size=1, max_size=10))
@settings(**SETTINGS)
def test_clean_data_range_property(spark, rows):
    rows = list(rows.items())
    df = spark.createDataFrame(rows, "rid int, color string")
    out = clean_data(
        {"n": df},
        CLEAN_MODEL,
        {"color": SYNONYMS, "extra_long_values": ["XXLONGXX"]},
    )["n"].collect()
    assert len(out) == len(rows)
    inputs = {c for _, c in rows if c is not None}
    allowed = (
        set(ENUM)
        | {v for k, v in SYNONYMS.items() if k != "nan_value"}
        | {"Not specified in data"}
        | inputs
    )
    by_rid = dict(rows)
    for r in out:
        assert r["color"] in allowed
        raw = by_rid[r["rid"]]
        if raw in ENUM:
            assert r["color"] == raw  # enum members never rewritten
        if raw is None:
            assert r["color"] == "Not specified in data"  # nan_value
        if raw == "XXLONGXX":
            assert r["color"] == "Not specified in data"


@pytest.mark.parametrize("kind", ["dup_ids"])
def test_combine_rows_collapses_exact_dup(spark, kind):
    # Regression anchor for the substring-skip: 'a' merged into 'ab'
    # group is skipped ('a' in 'ab'), matching the reference's :145.
    df = spark.createDataFrame(
        [(1, "ab"), (1, "a")], "id int, v string"
    )
    [row] = combine_rows_node(df, "id").collect()
    assert row["v"] == "a, ab"  # sorted: 'a' first, 'ab' not substring-skipped


def test_model_relationship_helpers():
    m = Model(
        nodes={"study": ["sid"], "participant": ["pid"]},
        relationships=[
            Relationship(name="of_study", mul="many_to_one", src="participant", dst="study")
        ],
        props={},
    )
    assert [r.name for r in m.parents_of("participant")] == ["of_study"]
    assert m.mul_of("of_study") == "many_to_one"


toks = st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=15)


@given(counts=toks, budget=st.integers(min_value=1, max_value=20))
@settings(**SETTINGS)
def test_packing_properties(spark, counts, budget):
    from cds_etl_spark.operators.packing import chunk_assignments

    rows = [(i, c) for i, c in enumerate(counts)]
    df = spark.createDataFrame(rows, "id long, n long")
    out = chunk_assignments(df, "id", "n", budget).collect()
    total = sum(c for c in counts if c > 0)
    chunks = {r["chunk_id"] for r in out}
    if total == 0:
        assert out == []
        return
    # chunk ids tile the concatenated stream exactly: 0..ceil(total/budget)-1
    assert chunks == set(range((total + budget - 1) // budget))
    # each doc's chunk span matches its token interval
    for r in out:
        assert r["cum_before"] // budget <= r["chunk_id"]
        assert r["chunk_id"] <= (r["cum_before"] + r["n_tokens"] - 1) // budget
    # zero-token docs never appear
    assert all(r["n_tokens"] > 0 for r in out)


batch = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]), st.one_of(st.none(), st.integers(-50, 50))),
    min_size=0,
    max_size=8,
)


@given(b1=batch, b2=batch, b3=batch)
@settings(**SETTINGS)
def test_incremental_merge_equals_full_property(spark, b1, b2, b3):
    from cds_etl_spark.operators.incremental import (
        aggregate_delta,
        merge_aggregate_state,
    )

    spec = {"n": ("count", ""), "s": ("sum", "v"), "lo": ("min", "v"), "hi": ("max", "v")}
    schema = "k string, v long"
    batches = [b for b in (b1, b2, b3) if b]
    if not batches:
        return
    dfs = [spark.createDataFrame(b, schema) for b in batches]
    state = aggregate_delta(dfs[0], ["k"], spec)
    for d in dfs[1:]:
        state = merge_aggregate_state(state, aggregate_delta(d, ["k"], spec), ["k"], spec)
    full = dfs[0]
    for d in dfs[1:]:
        full = full.unionByName(d)
    want = aggregate_delta(full, ["k"], spec)
    assert sorted(map(tuple, state.collect())) == sorted(map(tuple, want.collect()))


@given(
    st.lists(
        st.integers(min_value=-1000, max_value=1000),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_clamped_balance_closed_form_identity(deltas):
    """The qs180 identity, property-tested in pure Python: the
    closed form b_t = prefix_t − min(0, running-min prefix_t)
    equals the direct recursion b_t = max(0, b_{t−1} + d_t) for ANY
    integer delta sequence — the algebraic fact the qs180
    differential relies on, pinned here without an engine in the
    loop."""
    # Direct recursion.
    bal, direct = 0, []
    for d in deltas:
        bal = max(0, bal + d)
        direct.append(bal)
    # Closed form.
    prefix, mn, closed = 0, 0, []
    for d in deltas:
        prefix += d
        mn = min(mn, prefix)
        closed.append(prefix - min(0, mn))
    assert closed == direct

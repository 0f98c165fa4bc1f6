"""Property-based tests for the upsert kernel (SURVEY §5 item 4).

Hypothesis generates small keyed batches; properties assert the kernel's
algebra: within-batch precombine resolution, sequential incoming-wins
semantics, incremental-window composition, and delete/reinstate.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
    Table,
)

ROW = st.tuples(
    st.integers(min_value=0, max_value=7),   # key
    st.integers(min_value=0, max_value=5),   # ver (precombine)
    st.sampled_from(["a", "b", "c", "d"]),   # val
)
BATCH = st.lists(ROW, min_size=1, max_size=12)

_SEQ = 0


def _mk(spark, tmp_base):
    global _SEQ
    _SEQ += 1
    return Table.create(
        spark, f"{tmp_base}/t{_SEQ}", key="id", precombine="ver", table_name="t"
    )


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, v, f"{val}{k}:{v}") for k, v, val in rows],
        "id long, ver long, val string",
    )


def _snap(t):
    return {
        r["id"]: (r["ver"], r["val"]) for r in t.snapshot().collect()
    }


def expected_single_batch(rows):
    """max(precombine) per key wins; ties → later row in batch order."""
    out = {}
    for k, v, val in rows:
        tagged = f"{val}{k}:{v}"
        if k not in out or v >= out[k][0]:
            out[k] = (v, tagged)
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=BATCH)
def test_single_upsert_is_precombine_dedup(spark, tmp_path_factory, rows):
    t = _mk(spark, tmp_path_factory.mktemp("prop"))
    t.upsert(_df(spark, rows))
    assert _snap(t) == expected_single_batch(rows)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(b1=BATCH, b2=BATCH)
def test_sequential_upserts_incoming_wins(spark, tmp_path_factory, b1, b2):
    t = _mk(spark, tmp_path_factory.mktemp("prop"))
    t.upsert(_df(spark, b1))
    t.upsert(_df(spark, b2))
    want = expected_single_batch(b1)
    want.update(expected_single_batch(b2))  # incoming batch replaces stored
    assert _snap(t) == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(b1=BATCH, b2=BATCH, b3=BATCH)
def test_incremental_windows_compose(spark, tmp_path_factory, b1, b2, b3):
    t = _mk(spark, tmp_path_factory.mktemp("prop"))
    c1 = t.upsert(_df(spark, b1))
    c2 = t.upsert(_df(spark, b2))
    c3 = t.upsert(_df(spark, b3))

    def keys(df):
        return {r["id"] for r in df.collect()}

    # changed-key sets compose across adjacent windows
    assert keys(t.incremental(c1, c3)) == keys(t.incremental(c1, c2)) | keys(
        t.incremental(c2, c3)
    )
    # full-timeline incremental == snapshot (latest version of every key)
    snap_rows = {(r["id"], r["ver"], r["val"]) for r in t.snapshot().collect()}
    inc_rows = {
        (r["id"], r["ver"], r["val"]) for r in t.incremental(None).collect()
    }
    assert snap_rows == inc_rows
    # the last window's rows agree with the snapshot on those keys
    snap = _snap(t)
    for r in t.incremental(c2, c3).collect():
        assert snap[r["id"]] == (r["ver"], r["val"])


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=BATCH, del_keys=st.sets(st.integers(0, 7), max_size=4))
def test_delete_then_reinstate(spark, tmp_path_factory, rows, del_keys):
    t = _mk(spark, tmp_path_factory.mktemp("prop"))
    t.upsert(_df(spark, rows))
    t.delete(spark.createDataFrame([(k,) for k in del_keys] or [(99,)], "id long"))
    want = {
        k: v for k, v in expected_single_batch(rows).items() if k not in del_keys
    }
    assert _snap(t) == want
    # reinstating a deleted key via upsert works
    if del_keys:
        k = sorted(del_keys)[0]
        t.upsert(_df(spark, [(k, 0, "z")]))
        assert _snap(t)[k] == (0, f"z{k}:0")


ROW_NULLABLE_VER = st.tuples(
    st.integers(min_value=0, max_value=7),
    st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
    st.sampled_from(["a", "b", "c", "d"]),
)


def expected_single_batch_nullable(rows):
    """Null precombine ranks below ANY non-null (the max_by struct
    ordering contract, matching the old desc-nulls-last window); ties —
    including all-null — resolve to the later row in batch order."""
    out = {}
    for k, v, val in rows:
        tagged = f"{val}{k}:{v}"
        if k not in out:
            out[k] = (v, tagged)
            continue
        cur = out[k][0]
        if cur is None or (v is not None and v >= cur):
            out[k] = (v, tagged)
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(ROW_NULLABLE_VER, min_size=1, max_size=12))
def test_single_upsert_null_precombine_ranks_lowest(
    spark, tmp_path_factory, rows
):
    t = _mk(spark, tmp_path_factory.mktemp("prop"))
    t.upsert(_df(spark, rows))
    assert _snap(t) == expected_single_batch_nullable(rows)


@given(rows=BATCH, upd=BATCH)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_partial_update_with_full_columns_equals_upsert(
    spark, tmp_path_factory, rows, upd
):
    """partial_update degenerates to upsert when the batch carries every
    column, no nulls, AND a precombine newer than anything stored — the
    two write paths must agree on any such input. (The paths diverge by
    design on OLDER precombine: upsert is overwrite-latest like Hudi's
    OverwriteWithLatestAvroPayload, partial_update is precombine-ordered
    like Hudi's partial-update payload — covered by
    test_partial_update_older_precombine_loses.)"""
    base = tmp_path_factory.mktemp("prop_pu")
    # shift the update batch's precombine above every stored value so
    # precombine ordering always lets the batch through
    upd = [(k, v + 6, val) for k, v, val in upd]
    t1, t2 = _mk(spark, base), _mk(spark, base)
    t1.upsert(_df(spark, rows))
    t2.upsert(_df(spark, rows))
    t1.upsert(_df(spark, upd))
    t2.partial_update(_df(spark, upd))
    cols = ["id", "ver", "val"]
    a = sorted(tuple(r[c] for c in cols) for r in t1.snapshot().collect())
    b = sorted(tuple(r[c] for c in cols) for r in t2.snapshot().collect())
    assert a == b


DELETE_FLAG_ROW = st.tuples(
    st.integers(min_value=0, max_value=9),   # key (overlaps + absent)
    st.integers(min_value=0, max_value=5),   # ver
    st.sampled_from(["x", "y"]),             # val
    st.sampled_from([True, False, None]),    # delete flag (NULL = upsert)
)


@pytest.mark.parametrize("table_type", ["cow", "mor"])
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=BATCH, src=st.lists(DELETE_FLAG_ROW, min_size=1, max_size=12))
def test_merge_with_delete_col_matches_reference_model(
    spark, tmp_path_factory, table_type, rows, src
):
    """merge(delete_col=...) vs a dict model: unflagged and NULL-flagged
    rows upsert (max precombine per key, incoming wins over the stored
    row), flagged keys delete — also when the same key has an unflagged
    row too, and as a no-op when the table never held the key."""
    t = Table.create(
        spark,
        f"{tmp_path_factory.mktemp('md')}/t",
        key="id", precombine="ver", table_name="t",
        table_type=table_type,
    )
    t.upsert(_df(spark, rows))
    sdf = spark.createDataFrame(
        [(k, v, f"{val}{k}:{v}", d) for k, v, val, d in src],
        "id long, ver long, val string, _del boolean",
    )
    t.merge(sdf, delete_col="_del")
    want = expected_single_batch(rows)
    want.update(expected_single_batch([r[:3] for r in src if not r[3]]))
    for k, _v, _val, d in src:
        if d:
            want.pop(k, None)
    assert _snap(t) == want


MERGE_SRC_ROW = st.tuples(
    st.integers(min_value=0, max_value=9),   # key (overlaps + new)
    st.integers(min_value=0, max_value=5),   # ver
    st.sampled_from(["x", "y"]),             # val
    st.sampled_from(["U", "D", "I"]),        # action flag
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=BATCH,
    src=st.lists(MERGE_SRC_ROW, min_size=1, max_size=10),
    table_type=st.sampled_from(["cow", "mor"]),
    by_source=st.booleans(),
)
def test_merge_into_matches_reference_model(
    spark, tmp_path_factory, rows, src, table_type, by_source
):
    """MERGE INTO algebra vs a dict reference model: conditional DELETE
    and UPDATE on matched keys (first-match-wins), a matched row no
    clause claims is untouched, non-'D' unmatched rows insert, and —
    when ``by_source`` — target rows with no source match take the
    first NOT MATCHED BY SOURCE clause whose condition holds
    (conditional DELETE, then an unconditional stale-flag UPDATE).
    Result identical on both table types."""
    t = Table.create(
        spark,
        f"{tmp_path_factory.mktemp('mi')}/t",
        key="id", precombine="ver", table_name="t",
        table_type=table_type,
    )
    t.upsert(_df(spark, rows))
    # unique source keys (the kernel raises on multi-matched targets)
    seen, src_u = set(), []
    for k, v, val, act in src:
        if k not in seen:
            seen.add(k)
            src_u.append((k, v, val, act))
    sdf = spark.createDataFrame(
        [(k, v, f"{val}{k}:{v}", act) for k, v, val, act in src_u],
        "id long, ver long, val string, act string",
    )
    t.merge_into(
        sdf,
        on="t.id = s.id",
        matched=[
            ("delete", "s.act = 'D'", None),
            ("update", "s.act = 'U'", {"val": "s.val", "ver": "s.ver"}),
        ],
        not_matched=[
            (
                "insert",
                "s.act != 'D'",
                {"id": "s.id", "ver": "s.ver", "val": "s.val"},
            )
        ],
        not_matched_by_source=(
            [
                ("delete", "t.ver <= 2", None),
                ("update", None, {"val": "'stale'"}),
            ]
            if by_source
            else []
        ),
    )
    orig = expected_single_batch(rows)  # pre-merge target (match basis)
    state = dict(orig)
    src_keys = {k for k, _v, _val, _act in src_u}
    if by_source:
        for k in list(state):
            if k in src_keys:
                continue  # matched — by-source clauses don't apply
            v, _val = state[k]
            if v <= 2:
                state.pop(k)             # first by-source clause: DELETE
            else:
                state[k] = (v, "stale")  # second clause: flag
    for k, v, val, act in src_u:
        tagged = f"{val}{k}:{v}"
        if k in orig:
            if act == "D":
                state.pop(k, None)
            elif act == "U":
                state[k] = (v, tagged)
            # act == "I": matched, no clause claims it -> untouched
        elif act != "D":
            state[k] = (v, tagged)
    assert _snap(t) == state


PART_ROW = st.tuples(
    st.integers(min_value=0, max_value=7),   # key
    st.integers(min_value=0, max_value=5),   # ver
    st.sampled_from(["p0", "p1", "p2"]),     # partition value
)
PART_BATCH = st.lists(PART_ROW, min_size=1, max_size=12)


def _mk_part(spark, tmp_base):
    global _SEQ
    _SEQ += 1
    return Table.create(
        spark, f"{tmp_base}/t{_SEQ}", key="id", precombine="ver",
        partition_fields=["p"], table_name="t",
    )


def _pdf(spark, rows):
    return spark.createDataFrame(
        [(k, v, p) for k, v, p in rows], "id long, ver long, p string"
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=PART_BATCH,
    repl=st.lists(PART_ROW, min_size=1, max_size=8, unique_by=lambda r: r[0]),
)
def test_dynamic_insert_overwrite_algebra(
    spark, tmp_path_factory, base, repl
):
    """insert_overwrite(dynamic) ≡ precombine-dedup the base load, drop
    every surviving row whose partition appears in the replacement
    batch, then overlay the replacement rows (newer commit wins per
    key at snapshot) — for ANY base/replacement. The replacement batch
    carries unique keys: insert_overwrite is a REPLACE, it does not
    precombine-dedup its input (duplicate keys within one overwrite
    batch are the caller's contract)."""
    t = _mk_part(spark, tmp_path_factory.mktemp("prop_iow"))
    t.upsert(_pdf(spark, base))
    t.insert_overwrite(_pdf(spark, repl), dynamic=True)
    repl_parts = {p for _, _, p in repl}
    expected = {}
    for k, v, p in base:
        if k not in expected or v >= expected[k][0]:
            expected[k] = (v, p)
    expected = {k: vp for k, vp in expected.items() if vp[1] not in repl_parts}
    for k, v, p in repl:
        expected[k] = (v, p)  # newer commit wins regardless of ver
    got = {
        r["id"]: (r["ver"], r["p"]) for r in t.snapshot().collect()
    }
    assert got == expected


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(b1=BATCH, b2=BATCH, b3=BATCH)
def test_bucket_table_upserts_match_plain_table(
    spark, tmp_path_factory, b1, b2, b3
):
    """The bucket index is a LAYOUT, not a semantic: any sequence of
    upserts on a bucket table must produce exactly the plain table's
    snapshot (the bucket prune may only drop files that provably hold
    none of the batch's keys — a wrong bucket assignment or an over-
    eager prune surfaces as divergence here)."""
    global _SEQ
    base = tmp_path_factory.mktemp("prop")
    plain = _mk(spark, base)
    _SEQ += 1
    bucketed = Table.create(
        spark,
        f"{base}/t{_SEQ}",
        key="id",
        precombine="ver",
        table_name="tb",
        index_type="bucket",
        bucket_count=3,
    )
    for rows in (b1, b2, b3):
        df = _df(spark, rows)
        plain.upsert(df)
        bucketed.upsert(df)
    assert _snap(bucketed) == _snap(plain)


# ---------------------------------------------------------------------------
# r10: subquery-UPDATE parity and bucket-resize generation algebra
# ---------------------------------------------------------------------------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=BATCH, threshold=st.integers(min_value=0, max_value=5))
def test_subquery_update_parity_with_update_where(
    spark, tmp_path_factory, rows, threshold
):
    """An UPDATE whose predicate is expressible both ways must land the
    same final state: the expression path (update_where) and the
    subquery path (spark.sql over the snapshot -> upsert) are two
    implementations of one statement semantics."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark import (
        sql_dml,
    )

    base = tmp_path_factory.mktemp("prop")
    ta = _mk(spark, base)
    tb = _mk(spark, base)
    ta.upsert(_df(spark, rows))
    tb.upsert(_df(spark, rows))
    sql_dml.execute(
        spark,
        f"UPDATE t SET val = concat(val, '!') WHERE ver >= {threshold}",
        {"t": ta},
    )
    # same predicate, forced onto the subquery route via a scalar
    # subquery that evaluates to the same constant
    sql_dml.execute(
        spark,
        "UPDATE t SET val = concat(val, '!') "
        f"WHERE ver >= (SELECT {threshold})",
        {"t": tb},
    )
    assert _snap(ta) == _snap(tb)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    b1=BATCH,
    b2=BATCH,
    b3=BATCH,
    counts=st.tuples(
        st.sampled_from([2, 4, 8]), st.sampled_from([3, 5, 16])
    ),
    modes=st.tuples(st.booleans(), st.booleans()),
)
def test_bucket_resize_generations_model(
    spark, tmp_path_factory, b1, b2, b3, counts, modes
):
    """Upserts interleaved with resizes (rewrite or metadata-only, any
    counts) must equal the plain dict model — the bucket prune across
    mixed generations is invisible to semantics."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        TableServices,
    )

    global _SEQ
    _SEQ += 1
    t = Table.create(
        spark,
        f"{tmp_path_factory.mktemp('prop')}/bt{_SEQ}",
        key="id",
        precombine="ver",
        table_name="bt",
        index_type="bucket",
        bucket_count=counts[0],
    )
    model = {}

    def apply(rows):
        t.upsert(_df(spark, rows))
        # within-batch: max(precombine) wins; across batches: the
        # incoming batch replaces existing keys unconditionally
        # (incoming-wins, pinned by test_sequential_upserts_incoming_wins)
        model.update(expected_single_batch(rows))

    apply(b1)
    TableServices(t).resize_buckets(counts[1], rewrite=modes[0])
    apply(b2)
    # resize back (possibly same-count no-op) under the other mode
    TableServices(t).resize_buckets(counts[0], rewrite=modes[1])
    apply(b3)
    assert _snap(t) == model
    # point reads across all generations
    for k in model:
        got = t.snapshot(filters={"id": k}).where(f"id = {k}").collect()
        assert [(r["id"], r["ver"], r["val"]) for r in got] == [
            (k, *model[k])
        ], k


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=BATCH, scoped=st.sampled_from(["x", "y"]))
def test_partition_scoped_compact_is_read_invisible(
    spark, tmp_path_factory, rows, scoped
):
    """OPTIMIZE WHERE <partition> never changes what any read returns:
    snapshot, per-key point reads, and the other partition's physical
    files are all byte-stable."""
    from learn_how_to_integerate_hudi_spark_job_with_airflow_and_minio_spark.table import (
        TableServices,
    )

    global _SEQ
    _SEQ += 1
    t = Table.create(
        spark,
        f"{tmp_path_factory.mktemp('prop')}/pc{_SEQ}",
        key="id",
        precombine="ver",
        table_name="pc",
        partition_fields=["p"],
        max_records_per_file=2,
    )
    df = spark.createDataFrame(
        [
            (k, v, f"{val}{k}:{v}", "x" if k % 2 == 0 else "y")
            for k, v, val in rows
        ],
        "id long, ver long, val string, p string",
    )
    t.upsert(df)
    before = {
        r["id"]: (r["ver"], r["val"], r["p"])
        for r in t.snapshot().collect()
    }
    other_files = {
        e["path"]
        for e in t.current_files()
        if f"p={scoped}" not in e["path"]
    }
    c = TableServices(t).compact(where=f"p = '{scoped}'")
    after = {
        r["id"]: (r["ver"], r["val"], r["p"])
        for r in t.snapshot().collect()
    }
    assert after == before
    live = {e["path"] for e in t.current_files()}
    assert other_files <= live  # unscoped partition untouched
    if c is not None:
        # the replace commit removed ONLY scoped-partition files
        man = t._manifest(c)
        assert all(f"p={scoped}" in p for p in man["files_removed"])


# -- rename / schema-evolution algebra (r11) ---------------------------

_EVO_OP = st.one_of(
    st.tuples(st.just("upsert"), st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 4)),
        min_size=1, max_size=4,
    )),
    st.tuples(st.just("rename"), st.integers(0, 10)),
    st.tuples(st.just("add"), st.just(0)),
    st.tuples(st.just("drop"), st.integers(0, 10)),
    st.tuples(st.just("restore"), st.integers(0, 10)),
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_EVO_OP, min_size=2, max_size=6))
def test_rename_evolution_algebra(spark, tmp_path_factory, ops):
    """Random interleavings of upsert / RENAME / ADD / DROP / RESTORE
    match a pure-Python reference model, including one time-travel
    probe into the middle of the history — pins the field-id identity
    algebra (values written under any historical name must surface
    under the CURRENT name, never resurrect, never null out)."""
    import copy

    global _SEQ
    _SEQ += 1
    base = tmp_path_factory.mktemp("evo")
    cols = ["c0", "c1"]  # current non-structural columns, in order
    fresh = 2
    t = Table.create(
        spark, f"{base}/t{_SEQ}", key="id", precombine="ver",
        table_name="t",
    )
    # model: rows = {key: {"ver": v, <col>: val}}, one entry per commit
    rows: dict[int, dict] = {}
    history: list[tuple[str, list[str], dict]] = []  # (commit, cols, rows)

    def _commit(c):
        history.append((c, list(cols), copy.deepcopy(rows)))

    # initial batch so every table has a schema
    first = [(0, 0), (1, 0)]
    df = spark.createDataFrame(
        [(k, v, *[f"{n}={k}.{v}" for n in cols]) for k, v in first],
        f"id long, ver long, {', '.join(n + ' string' for n in cols)}",
    )
    c = t.bulk_insert(df)
    for k, v in first:
        rows[k] = {"ver": v, **{n: f"{n}={k}.{v}" for n in cols}}
    _commit(c)

    for op in ops:
        if op[0] == "upsert":
            batch = op[1]
            df = spark.createDataFrame(
                [
                    (k, v, *[f"{n}={k}.{v}" for n in cols])
                    for k, v in batch
                ],
                f"id long, ver long, "
                f"{', '.join(n + ' string' for n in cols)}",
            )
            c = t.upsert(df)
            best: dict[int, int] = {}
            for k, v in batch:  # within-batch max(ver) wins
                best[k] = max(best.get(k, -1), v)
            for k, v in best.items():
                # vs the STORED row the engine upsert is INCOMING-WINS
                # (Hudi OverwriteWithLatest) — precombine only resolves
                # within the batch, so the batch winner always replaces
                rows[k] = {
                    "ver": v, **{n: f"{n}={k}.{v}" for n in cols}
                }
            _commit(c)
        elif op[0] == "rename":
            old = cols[op[1] % len(cols)]
            new = f"c{fresh}"
            fresh += 1
            c = t.alter_rename_column(old, new)
            cols[cols.index(old)] = new
            for r in rows.values():
                r[new] = r.pop(old)
            _commit(c)
        elif op[0] == "add":
            new = f"c{fresh}"
            fresh += 1
            c = t.alter_add_columns([(new, "string")])
            cols.append(new)
            for r in rows.values():
                r[new] = None
            _commit(c)
        elif op[0] == "drop":
            if len(cols) <= 1:
                continue  # keep at least one payload column
            victim = cols[op[1] % len(cols)]
            c = t.alter_drop_column(victim)
            cols.remove(victim)
            for r in rows.values():
                r.pop(victim, None)
            _commit(c)
        else:  # restore
            idx = op[1] % len(history)
            target, tcols, trows = history[idx]
            c = t.restore(target)
            cols[:] = list(tcols)
            rows.clear()
            rows.update(copy.deepcopy(trows))
            _commit(c)

    def engine_state(as_of=None):
        snap = t.snapshot(as_of=as_of)
        user = [f for f in snap.columns if f not in ("_commit_time",)]
        return {
            r["id"]: {n: r[n] for n in user if n != "id"}
            for r in snap.collect()
        }

    expect = {
        k: {"ver": r["ver"], **{n: r[n] for n in cols}}
        for k, r in rows.items()
    }
    assert engine_state() == expect
    # time-travel probe into the middle of the history
    mid_commit, mcols, mrows = history[len(history) // 2]
    expect_mid = {
        k: {"ver": r["ver"], **{n: r[n] for n in mcols}}
        for k, r in mrows.items()
    }
    assert engine_state(as_of=mid_commit) == expect_mid

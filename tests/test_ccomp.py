"""Connected-components tests (hash-to-min label propagation)."""

from lmw_tree_spark.operators.ccomp import connected_components


def test_simple_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    got = {r["image_id"]: r["dup_group"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_chain_converges(spark):
    # long path graph — worst case for propagation depth
    n = 40
    edges = spark.createDataFrame(
        [(f"v{i:03d}", f"v{i+1:03d}") for i in range(n - 1)], "src string, dst string"
    )
    got = connected_components(edges).collect()
    assert {r["dup_group"] for r in got} == {"v000"}
    assert len(got) == n


def test_singletons_from_vertex_universe(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    verts = spark.createDataFrame(
        [("a",), ("b",), ("lonely",)], "image_id string"
    )
    got = {r["image_id"]: r["dup_group"] for r in connected_components(edges, verts).collect()}
    assert got == {"a": "a", "b": "a", "lonely": "lonely"}


def test_label_is_min_id(spark):
    edges = spark.createDataFrame(
        [("zz", "mm"), ("mm", "aa"), ("zz", "aa")], "src string, dst string"
    )
    got = {r["image_id"]: r["dup_group"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {"aa"}


def test_merge_dup_groups_incremental_maintenance(spark):
    """New edges merge existing groups (stable min-group label), attach new
    members to corpus groups, form all-new groups, and leave untouched
    groups byte-identical — without any full-corpus recompute."""
    from lmw_tree_spark.operators.ccomp import merge_dup_groups

    assignments = spark.createDataFrame(
        [  # groups: g_a = {a1,a2}, g_b = {b1,b2}, g_c = {c1}, g_z untouched
            ("a1", "a1"), ("a2", "a1"),
            ("b1", "b1"), ("b2", "b1"),
            ("c1", "c1"),
            ("z1", "z1"), ("z2", "z1"),
        ],
        "image_id string, dup_group string",
    )
    edges = spark.createDataFrame(
        [
            ("a2", "b1"),   # merges group a1 with group b1 -> label a1
            ("n1", "c1"),   # new image joins group c1 (c1 < n1 -> label c1)
            ("n2", "n3"),   # all-new pair -> label n2
            ("a1", "a2"),   # same-group edge: contracts to a self-loop, no-op
        ],
        "src string, dst string",
    )
    got = dict(
        merge_dup_groups(assignments, edges).toPandas()
        .set_index("image_id")["dup_group"]
    )
    assert got == {
        "a1": "a1", "a2": "a1",
        "b1": "a1", "b2": "a1",   # remapped b1 -> a1
        "c1": "c1", "n1": "c1",   # new member adopts the existing id
        "n2": "n2", "n3": "n2",   # all-new component
        "z1": "z1", "z2": "z1",   # untouched
    }


def test_nonconvergence_raises_and_rounds_are_recorded(spark):
    """A path graph needs several hash-to-min rounds: too few rounds must
    raise instead of returning partial labels; enough rounds converge to the
    component minimum, and the per-round changed-label counts end at 0."""
    import pytest

    from lmw_tree_spark.operators.ccomp import ConvergenceError

    n = 40
    edges = spark.createDataFrame(
        [(f"v{i:03d}", f"v{i+1:03d}") for i in range(n - 1)], "src string, dst string"
    )
    with pytest.raises(ConvergenceError):
        connected_components(edges, max_iters=2).collect()
    rounds = []
    got = connected_components(edges, max_iters=10, rounds=rounds).collect()
    assert {r["dup_group"] for r in got} == {"v000"}
    assert len(got) == n
    assert rounds[-1] == 0 and all(c > 0 for c in rounds[:-1])
    assert len(rounds) <= 10
    # exactly as many rounds as it needed is enough
    again = connected_components(edges, max_iters=len(rounds)).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, got))

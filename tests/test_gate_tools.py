"""Pin the two r13 gate-hardening tools and the subset bench CLI.

- tools/mutate_oracle.py: the site collector and the mutator must agree
  on traversal order (a desync would mutate the WRONG site — silently
  measuring nothing), every generated mutant must parse and differ from
  the original, and a known-sensitive mutant must actually go red
  against the oracle.
- tools/perturb_replay.py: the digest must be order-insensitive (so a
  legitimate query never flags) but value/column/count-sensitive (so a
  real divergence always does), and a deterministic query must digest
  identically on the round-robin-rewritten input.
- tools/subset_bench.py: unknown query names are rejected before the
  Spark session starts.
"""

import ast
import os
import sys
import textwrap

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
SF = "/root/testdata/sf0.001"


def _probe_fn(spark, sf_dir):  # a site-dense body for mutant generation
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    x = df.filter(df.a < 3).filter(df.b == 2)
    y = x.join(df, x.k == df.k, "left").limit(10)
    return y.orderBy(df.a.desc()).select((df.a + 1).alias("z"))


def test_mutants_parse_and_differ_in_one_site():
    from mutate_oracle import SiteCollector, mutants_of

    src = textwrap.dedent(__import__("inspect").getsource(_probe_fn))
    coll = SiteCollector()
    coll.visit(ast.parse(src))
    ops = {op for op, _ in coll.sites}
    # the probe body exercises most operator kinds
    assert {"cmp-boundary", "eq-flip", "join-flip", "drop-filter",
            "limit-shift", "sort-flip", "arith-flip"} <= ops
    orig = ast.unparse(ast.parse(src))
    seen = set()
    muts = list(mutants_of(_probe_fn, 7))
    assert len(muts) == 7
    for op, msrc in muts:
        ast.parse(msrc)  # parses
        assert msrc != orig, f"{op} produced an identical mutant"
        assert msrc not in seen, f"{op} duplicated another mutant"
        seen.add(msrc)


def test_collector_and_mutator_traversals_stay_in_sync():
    # every site index the collector enumerates must be hit by the
    # mutator under the SAME operator label — a desync mutates the
    # wrong thing while reporting the right one
    from mutate_oracle import Mutator, SiteCollector

    import copy as _copy
    import inspect

    src = textwrap.dedent(inspect.getsource(_probe_fn))
    tree = ast.parse(src)
    coll = SiteCollector()
    coll.visit(tree)
    assert coll.sites, "probe body lost its mutation sites"
    for op, idx in coll.sites:
        m = Mutator(idx)
        m.visit(_copy.deepcopy(tree))
        assert m.applied == op, (
            f"site {idx}: collector says {op}, mutator applied {m.applied}"
        )


def test_known_mutant_goes_red_against_oracle(spark):
    import duckdb

    from mutate_oracle import mutants_of
    from oracle_util import compare, register_views

    import labelspark_spark.queries as Q

    con = duckdb.connect()
    register_views(con, SF)
    fn, sql = Q.REGISTRY["topk_orders"]
    assert compare(fn(spark, SF), con, sql)["values_match"]
    outcomes = {}
    for op, msrc in mutants_of(fn, 4):
        ns = dict(vars(Q))
        exec(compile(msrc, "<m>", "exec"), ns)
        r = compare(ns[fn.__name__](spark, SF), con, sql)
        outcomes[op] = r["values_match"]
    # limit(10)->limit(11) changes the row count; desc->asc flips the
    # selected extreme — both MUST go red
    assert outcomes.get("limit-shift") is False
    assert outcomes.get("sort-flip") is False


def test_perturb_digest_order_insensitive_value_sensitive():
    from perturb_replay import digest

    a = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    shuffled = a.sample(frac=1.0, random_state=7).reset_index(drop=True)
    assert digest(a) == digest(shuffled)
    assert digest(a) == digest(a[["y", "x"]])  # column order too
    assert digest(a) != digest(a.assign(x=[1, 2, 4]))  # value change
    assert digest(a) != digest(a.rename(columns={"y": "z"}))  # col name
    assert digest(a) != digest(a.iloc[:2])  # row count
    # duplicate multiplicity matters (it's a multiset, not a set)
    dup = pd.DataFrame({"x": [1, 1], "y": ["a", "a"]})
    one = pd.DataFrame({"x": [1], "y": ["a"]})
    assert digest(dup) != digest(one)


def test_deterministic_query_survives_input_rewrite(spark, tmp_path):
    from perturb_replay import build_perturbed_input, digest

    import labelspark_spark.queries as Q

    out = str(tmp_path / "perturbed")
    build_perturbed_input(spark, SF, out)
    for name in ("q1_pricing_summary", "join_left_outer"):
        fn = Q.REGISTRY[name][0]
        assert digest(fn(spark, SF).toPandas()) == digest(
            fn(spark, out).toPandas()
        ), name


def test_boundary_probe_overlay_preserves_schema(spark, tmp_path):
    # tools/boundary_probe.py injects rows by pyarrow-appending against
    # the ORIGINAL schema; a retyped column (e.g. timestamp downcast)
    # would silently change query semantics on the overlay
    import pyarrow.parquet as pq

    from boundary_probe import SCENARIOS, _ctx, build_overlay

    ctx = _ctx(SF)
    by_name = {n: fn for n, _, fn in SCENARIOS}
    mods = by_name["counter_rate"](ctx)
    out = str(tmp_path / "overlay")
    import os

    os.makedirs(out)
    build_overlay(SF, out, mods)
    for t, rows in mods.items():
        orig = pq.read_schema(f"{SF}/{t}.parquet")
        got = pq.read_table(f"{out}/{t}.parquet")
        assert got.schema == orig
        assert got.num_rows == pq.read_table(f"{SF}/{t}.parquet").num_rows + len(rows)
    # untouched tables are symlinks to the originals
    assert os.path.islink(f"{out}/region.parquet")


def test_boundary_probe_scenarios_cover_all_class_a_survivors():
    # accounting invariant: every survivor in the at-rest MUTATION
    # files is either probed by a scenario or carries a class-b reason
    from boundary_probe import CLASS_B, SCENARIOS, survivor_indices

    probed = {n for n, _, _ in SCENARIOS}
    for name in survivor_indices():
        assert name in probed or name in CLASS_B, (
            f"unadjudicated mutation survivor: {name}"
        )


def test_subset_bench_rejects_unknown_names_before_session(monkeypatch, capsys):
    # an unknown query name must fail fast, naming only the bad names,
    # before the (slow) Spark session is ever built
    import pytest

    import labelspark_spark
    import subset_bench

    def _no_session(*a, **k):
        raise AssertionError("Spark session built for an invalid query list")

    monkeypatch.setattr(labelspark_spark, "get_spark_session", _no_session)
    monkeypatch.setattr(
        sys, "argv", ["subset_bench.py", "kmeans_ivf_recall", "no_such_query"]
    )
    with pytest.raises(SystemExit) as exc:
        subset_bench.main()
    assert exc.value.code != 0
    err = capsys.readouterr().err
    assert "no_such_query" in err and "kmeans_ivf_recall" not in err.split("error:")[-1]

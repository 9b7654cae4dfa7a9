"""The node maker (compiler.relation.NodeSpec) decides minting, binding,
literal type and join-compatibility in one place; these tests hold its
plan-time judgements against the frames the mapping actually mints."""

import dataclasses
import inspect
import itertools
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import test_features
from conftest import SF_SMALL
from ont_d2rq_spark.compiler.relation import MappingCompiler, NodeSpec
from ont_d2rq_spark.examples import EX, tpch_mapping
from ont_d2rq_spark.graph import VirtualGraph
from test_features import emp  # noqa: F401  (fixture)

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


@pytest.fixture(scope="module")
def tpch(spark):
    return VirtualGraph(tpch_mapping(SF_SMALL), spark)


class _Built(Exception):
    pass


def _feature_graphs(spark, emp, tmp_path_factory):
    """The first graph each test of test_features.py builds: every test
    runs against a VirtualGraph that records the graph it compiles and
    stops the test there.  A test may take ``spark``, ``emp``,
    ``monkeypatch`` (a fresh one, undone after the call) and
    ``tmp_path``."""
    graphs = []

    def record(*args, **kwargs):
        graphs.append(VirtualGraph(*args, **kwargs))
        raise _Built

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(test_features, "VirtualGraph", record)
        for name, test in vars(test_features).items():
            if not name.startswith("test_"):
                continue
            params = list(inspect.signature(test).parameters)
            unknown = set(params) - {"spark", "emp", "monkeypatch", "tmp_path"}
            if unknown:
                pytest.fail(f"{name} takes fixtures _feature_graphs cannot supply: {sorted(unknown)}")
            with pytest.MonkeyPatch.context() as monkeypatch:
                fixtures = {"spark": spark, "emp": emp, "monkeypatch": monkeypatch}
                if "tmp_path" in params:
                    fixtures["tmp_path"] = tmp_path_factory.mktemp(name)
                try:
                    test(*(fixtures[p] for p in params))
                except _Built:
                    pass
    return graphs


def test_join_compatibility_is_sound(tpch):
    """No two bridge ends that mint a common RDF term are judged
    disjoint.  Each bridge's subject and object column is tagged with
    (bridge, position); one job finds the tag sets that share a term
    (xsd:string and plain literals are one term)."""
    ends = [(cb, pos) for cb in tpch.bridges for pos in ("subject", "object")]
    frames = []
    for tag, (cb, pos) in enumerate(ends):
        df = tpch.compiler.bridge_df(cb)
        if pos == "subject":
            term = [F.col("subj"), F.lit(False), F.lit(None), F.lit(None)]
        else:
            term = [F.col("obj"), F.col("is_literal"), F.col("obj_datatype"), F.col("obj_lang")]
        v, lit, dt, lang = term
        frames.append(
            df.select(
                v.alias("v"),
                lit.alias("lit"),
                F.nullif(dt.cast("string"), F.lit(XSD_STRING)).alias("dt"),
                F.lower(lang.cast("string")).alias("lang"),
                F.lit(tag).alias("tag"),
            )
        )
    shared = (
        reduce(DataFrame.unionByName, frames)
        .groupBy("v", "lit", "dt", "lang")
        .agg(F.array_sort(F.collect_set("tag")).alias("tags"))
        .filter(F.size("tags") > 1)
        .select("tags")
        .distinct()
        .collect()
    )
    same_term = {pair for r in shared for pair in itertools.combinations(r.tags, 2)}
    assert same_term, "no two bridge ends share a term; the check would be vacuous"

    def compatible(a, b):
        (cb_a, pos_a), (cb_b, pos_b) = ends[a], ends[b]
        spec_a, spec_b = getattr(cb_a, pos_a), getattr(cb_b, pos_b)
        return spec_a.compatible(cb_a, spec_b, cb_b, tpch.compiler)

    wrong = [(ends[a][0].name, ends[a][1], ends[b][0].name, ends[b][1])
             for a, b in sorted(same_term) if not compatible(a, b)]
    assert not wrong, f"judged disjoint but mint a common term: {wrong}"
    assert any(
        not compatible(a, b) for a, b in itertools.combinations(range(len(ends)), 2)
    ), "no pair judged disjoint; the pruning would be vacuous"


def test_minting_and_binding_agree_on_literal_type(spark, tpch, emp, tmp_path_factory):  # noqa: F811
    """Every bridge's frame carries exactly the (is_literal, datatype,
    lang) its object's node maker reports (the one that typed binding
    and join-compatibility read), over the TPC-H mapping and the
    mappings of test_features.py, in one grouped job."""
    graphs = [tpch, *_feature_graphs(spark, emp, tmp_path_factory)]
    assert len(graphs) > 10
    bridges = [(g, cb) for g in graphs for cb in g.bridges]
    got: dict = {}
    for r in (
        reduce(
            DataFrame.unionByName,
            [
                g.compiler.bridge_df(cb).select(
                    F.lit(i).alias("b"), "is_literal", "obj_datatype", "obj_lang"
                )
                for i, (g, cb) in enumerate(bridges)
            ],
        )
        .groupBy("b", "is_literal", "obj_datatype", "obj_lang")
        .count()
        .collect()
    ):
        got.setdefault(r.b, set()).add((r.is_literal, r.obj_datatype, r.obj_lang))
    assert len(got) > len(bridges) // 2, "most bridges minted nothing"
    wrong = {}
    for i, (g, cb) in enumerate(bridges):
        want = cb.object.literal_type(cb, g.compiler)
        if i in got and got[i] != {want}:
            wrong[cb.name] = (got[i], want)
    assert not wrong, wrong


def test_bridge_parts_built_once(spark):
    """Each bridge is compiled once and bound per call: finds with
    distinct constants and limit variants (dataclasses.replace, as
    d2rq:limitInverse makes) mint each bridge's triple Columns once, and
    the compiler keeps one entry per compiled bridge, not one per
    call."""
    mints, touched = [], set()
    real_mint, real_bridge_df = NodeSpec.mint, MappingCompiler.bridge_df

    def mint(self, *args, **kwargs):
        mints.append(self)
        return real_mint(self, *args, **kwargs)

    def bridge_df(self, cb, *args, **kwargs):
        touched.add(cb.name)
        return real_bridge_df(self, cb, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(NodeSpec, "mint", mint)
        mp.setattr(MappingCompiler, "bridge_df", bridge_df)
        g = VirtualGraph(tpch_mapping(SF_SMALL), spark)
        for k in range(1, 11):
            g.find(s=f"{EX}customer/{k}")
        for n in range(10):
            g.find(p=f"{EX}inNation", o=f"{EX}nation/{n}")
        cb = next(b for b in g.bridges if b.name == "customer.name")
        for i in range(1, 31):
            g.compiler.bridge_df(dataclasses.replace(cb, limit=i))
    assert len(touched) > 2
    assert len(mints) <= 3 * len(touched), (len(mints), sorted(touched))
    assert len(g.compiler._parts) <= len(touched)

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from ont_d2rq_spark.session import get_spark

    s = get_spark(app="tests", master="local[4]", shuffle_partitions=4)
    yield s


SF_SMALL = "/root/testdata/sf0.001"


class TriplesGraph:
    """The graph surface the SPARQL evaluator needs, over explicit
    TRIPLE_SCHEMA frames: the default graph ``tdf`` and the named graphs
    ``named`` ({iri: frame}), each through the generic triple-frame BGP
    (bgp_over_triples), the path named graphs and FROM merges take."""

    def __init__(self, tdf, named=None):
        self.spark = tdf.sparkSession
        self._tdf = tdf
        self._named = dict(named or {})

    def _frame(self, iri):
        from ont_d2rq_spark.compiler.relation import TRIPLE_SCHEMA

        if iri in self._named:
            return self._named[iri]
        return self.spark.createDataFrame([], TRIPLE_SCHEMA)

    def bgp(self, patterns, outer_specs=None):
        from ont_d2rq_spark.graph import bgp_over_triples

        return bgp_over_triples(self._tdf, patterns)

    def graph_names(self):
        return list(self._named)

    def graph_scoped_bgp(self, iri, patterns):
        from ont_d2rq_spark.graph import bgp_over_triples

        return bgp_over_triples(self._frame(iri), patterns)

    def graph_triples(self, iri):
        return self._frame(iri)

    def triples(self, fuse=True, distinct="auto"):
        return self._tdf

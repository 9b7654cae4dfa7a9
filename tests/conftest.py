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


def triples_dataset(tdf, named=None):
    """A Dataset of explicit TRIPLE_SCHEMA frames: the default graph
    ``tdf`` and the named graphs ``named`` ({iri: frame}), each read by
    the one BGP evaluator as a triple frame."""
    from ont_d2rq_spark.graph import Dataset, _TripleFrame

    return Dataset(
        _TripleFrame(tdf), {iri: _TripleFrame(f) for iri, f in (named or {}).items()}
    )

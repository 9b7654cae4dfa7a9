import faulthandler
import os
import signal
import subprocess
import sys
import threading
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# A test still running after this many seconds is stuck: the slowest
# test, the SPARQL fuzz property, takes 250–380 s inside the full suite.
WATCHDOG_S = 900

_jvm_pid = None  # the driver JVM's pid, read by the spark fixture


@pytest.fixture(scope="session")
def spark():
    global _jvm_pid
    from ont_d2rq_spark.session import get_spark

    s = get_spark(app="tests", master="local[4]", shuffle_partitions=4)
    _jvm_pid = s._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
    yield s


def dump_stacks(out):
    """Write the stack of every Python thread, then the driver JVM's
    thread dump (``jstack``), to ``out``, a file with a descriptor."""
    out.flush()
    faulthandler.dump_traceback(out, all_threads=True)
    if _jvm_pid is None:
        out.write("no driver JVM started\n")
        return
    out.write(f"jstack {_jvm_pid}:\n")
    out.flush()
    subprocess.run(
        ["jstack", str(_jvm_pid)], stdout=out, stderr=subprocess.STDOUT, timeout=120
    )
    out.flush()


@pytest.fixture(autouse=True)
def watchdog(request):
    """Stop the whole run when one test outlives WATCHDOG_S, after
    writing every Python and JVM stack to stderr.  A deadlocked DAG
    scheduler cannot run any later test either, so the run ends at once
    with a line that names the test."""

    def fire():
        capture = request.config.pluginmanager.getplugin("capturemanager")
        if capture is not None:
            capture.suspend(in_=True)
        sys.stderr.write(f"\nwatchdog: {request.node.nodeid} outlived {WATCHDOG_S} s\n")
        dump_stacks(sys.stderr)
        sys.stderr.write(f"watchdog: run stopped in {request.node.nodeid}\n")
        sys.stderr.flush()
        if _jvm_pid is not None:
            os.kill(_jvm_pid, signal.SIGKILL)
        os._exit(3)

    timer = threading.Timer(WATCHDOG_S, fire)
    timer.daemon = True
    timer.start()
    yield
    timer.cancel()


def assert_filled(df):
    """Every checkpointed leaf of ``df``'s plan is filled: a
    ``LogicalRDD`` whose RDD is marked for checkpointing reports
    ``isCheckpointed``.  The RDDs of ``createDataFrame`` are not marked
    and are skipped."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    unfilled = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRDD":
            continue
        rdd = leaf.rdd()
        if rdd.checkpointData().isDefined() and not rdd.isCheckpointed():
            unfilled.append(rdd.toString())
    assert not unfilled, f"unfilled checkpoint leaves: {unfilled}"


SF_SMALL = "/root/testdata/sf0.001"


def triples_dataset(tdf, named=None):
    """A Dataset of explicit TRIPLE_SCHEMA frames: the default graph
    ``tdf`` and the named graphs ``named`` ({iri: frame}), each read by
    the one BGP evaluator as a triple frame."""
    from ont_d2rq_spark.graph import Dataset, _TripleFrame

    return Dataset(
        _TripleFrame(tdf), {iri: _TripleFrame(f) for iri, f in (named or {}).items()}
    )

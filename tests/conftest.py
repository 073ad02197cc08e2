import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # smaller local session for tests
# the engine pre-touches its whole driver heap (8g by default); the tests
# need far less, and the benchmark runs the engine at 1g
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from geomesa_spark.session import get_spark
    s = get_spark("geomesa-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: the number of Spark jobs ``fn()`` ran, counted by
    the job ids of a job group set around the call."""
    import uuid
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        # job starts reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return run


@pytest.fixture
def count_round_trips(spark):
    """``count_round_trips(fn)``: the number of commands ``fn()`` sent to
    the JVM over py4j, counted by wrapping
    ``ClientServerConnection.send_command`` for the call.

    Memory deletes (``m\\nd\\n``) are not counted: Python's cycle collector
    frees JavaObjects of earlier calls at random points, so they would make
    the count of one call vary from run to run."""
    from py4j.clientserver import ClientServerConnection
    send = ClientServerConnection.send_command
    calls = []

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls.append(1)
        return send(self, command, *args, **kwargs)

    def run(fn):
        calls.clear()
        ClientServerConnection.send_command = counting
        try:
            fn()
        finally:
            ClientServerConnection.send_command = send
        return len(calls)
    return run

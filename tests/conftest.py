import json
import pathlib
import re

import pytest

from qualityspark.session import get_spark

DATA = pathlib.Path(__file__).parent / "data"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="qualityspark-tests", master="local[4]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_small(spark):
    """800 deterministic synthetic pages, cached for the whole session."""
    from qualityspark import synth
    df = synth.pages_df(spark, 800, partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def oracle_small():
    from qualityspark import synth, oracle
    rows = list(synth.page_rows(800))
    return rows, oracle.audit_rows(rows)


@pytest.fixture(scope="session")
def golden():
    """golden(name, got): assert ``got`` equals the frozen reference output
    tests/data/<name>.json after the same JSON round trip it was stored
    with (``default=str``, so datetimes compare as their str())."""
    def check(name, got):
        want = json.loads((DATA / f"{name}.json").read_text())
        assert json.loads(json.dumps(got, default=str)) == want
    return check


@pytest.fixture(scope="session")
def py4j_calls():
    """py4j_calls(fn): the py4j commands sent to the JVM while ``fn`` runs,
    minus the memory/detach commands Python finalizers send at random
    times."""
    import py4j.clientserver as cs

    def count(fn) -> int:
        send = cs.ClientServerConnection.send_command
        n = [0]

        def counting(conn, command):
            if not command.startswith("m\n"):
                n[0] += 1
            return send(conn, command)

        cs.ClientServerConnection.send_command = counting
        try:
            fn()
        finally:
            cs.ClientServerConnection.send_command = send
        return n[0]
    return count


@pytest.fixture(scope="session")
def arrow_nodes():
    """arrow_nodes(df): the ArrowEvalPython nodes in ``df``'s executed
    plan (planning runs no job)."""
    def count(df) -> int:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"\bArrowEvalPython\b", plan))
    return count

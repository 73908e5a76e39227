"""get_spark's conf merge, checked without starting a JVM."""

from fujishadergpu_spark import session


def test_pretouch_heap_follows_explicit_driver_memory(monkeypatch):
    """-Xms must come from the merged spark.driver.memory: a 4g driver
    with the 24g default -Xms would refuse to start (Xms > Xmx)."""
    monkeypatch.setenv("SPARK_GRAFT_PRETOUCH", "1")
    monkeypatch.setattr(session, "_local_dirs", lambda: None)
    confs = session._session_confs({"spark.driver.memory": "4g"})
    assert confs["spark.driver.memory"] == "4g"
    assert confs["spark.driver.extraJavaOptions"].split()[0] == "-Xms4g"
    default = session._session_confs()
    assert default["spark.driver.extraJavaOptions"].split()[0] == "-Xms24g"


def test_explicit_confs_win_and_pretouch_opt_out(monkeypatch):
    monkeypatch.setattr(session, "_local_dirs", lambda: "/data/spark-local")
    monkeypatch.setenv("SPARK_GRAFT_PRETOUCH", "1")
    opts = "-Xms1g -XX:-UsePerfData"
    confs = session._session_confs(
        {"spark.driver.extraJavaOptions": opts, "spark.local.dir": "/elsewhere"}
    )
    assert confs["spark.driver.extraJavaOptions"] == opts
    assert confs["spark.local.dir"] == "/elsewhere"
    monkeypatch.setenv("SPARK_GRAFT_PRETOUCH", "0")
    confs = session._session_confs()
    assert "spark.driver.extraJavaOptions" not in confs
    assert confs["spark.local.dir"] == "/data/spark-local"

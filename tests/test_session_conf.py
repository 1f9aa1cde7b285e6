"""session.spark_conf: the defaults that suit one local box only (tmpfs
shuffle dir, the preloading python daemon) stay off a cluster master.
Pure conf building — no session is started."""

from pdf_metadata_extraction_spark.session import spark_conf

_DAEMON = "spark.python.daemon.module"


def test_local_master_gets_local_box_defaults(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    conf = spark_conf("local[2]", 2)
    assert conf[_DAEMON] == "pdf_metadata_extraction_spark.daemon_preload"
    assert conf["spark.local.dir"]
    assert conf["spark.sql.shuffle.partitions"] == "2"


def test_cluster_master_keeps_cluster_defaults(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    conf = spark_conf("spark://h:7077", 64)
    assert _DAEMON not in conf
    assert "spark.local.dir" not in conf
    # the tuning defaults are master-independent
    local = spark_conf("local[2]", 64)
    for k, v in conf.items():
        assert local[k] == v


def test_explicit_settings_apply_to_any_master(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/scratch/spill")
    conf = spark_conf(
        "spark://h:7077", 64,
        extra_conf={_DAEMON: "my.daemon", "spark.sql.adaptive.enabled": "false"},
    )
    assert conf["spark.local.dir"] == "/scratch/spill"
    assert conf[_DAEMON] == "my.daemon"
    assert conf["spark.sql.adaptive.enabled"] == "false"

"""Session-builder conf: the AVX pin must be platform-gated (x86-only
HotSpot flag — an unrecognized -XX aborts aarch64 JVM launch, r10 ADVICE)
and applied symmetrically to driver AND executor JVMs (on a real cluster
the SIGSEGV-prone state-store path runs in executors, which
spark.driver.extraJavaOptions never reaches — r10 VERDICT #7). Pure
driver-side logic; no Spark session needed."""

from unittest import mock

import pytest

from build_a_market_data_etl_strategy_backtesting_engine_spark import (
    session as sess,
)


def _builder_calls(**kwargs) -> dict:
    """What ``get_spark(**kwargs)`` hands the session builder (``master``
    and every conf), stopping before a JVM starts."""
    captured = {}

    class FakeBuilder:
        def appName(self, *_):
            return self

        def master(self, m):
            captured["master"] = m
            return self

        def config(self, k, v):
            captured[k] = v
            return self

        def getOrCreate(self):
            raise RuntimeError("stop-before-jvm")

    with mock.patch.object(sess.SparkSession, "builder", FakeBuilder()):
        with pytest.raises(RuntimeError, match="stop-before-jvm"):
            sess.get_spark("t", **kwargs)
    return captured


def test_avx_pin_on_x86():
    for arch in ("x86_64", "AMD64", "amd64"):
        with mock.patch.object(sess.platform, "machine",
                               return_value=arch):
            assert sess._default_jvm_opts() == "-XX:UseAVX=2"


def test_avx_pin_absent_off_x86():
    for arch in ("aarch64", "arm64", "riscv64", "ppc64le"):
        with mock.patch.object(sess.platform, "machine",
                               return_value=arch):
            assert sess._default_jvm_opts() == ""


def test_base_conf_pins_driver_and_executor_symmetrically():
    d = sess._BASE_CONF["spark.driver.extraJavaOptions"]
    e = sess._BASE_CONF["spark.executor.extraJavaOptions"]
    if d:
        # the executor side carries the SAME pin, but prefixed with
        # IgnoreUnrecognizedVMOptions (r11 ADVICE): the platform gate
        # samples the DRIVER arch only — on a mixed-arch cluster an
        # aarch64 executor must ignore the x86-only flag, not abort
        assert e == f"-XX:+IgnoreUnrecognizedVMOptions {d}"
    else:
        assert e == ""


def test_executor_opts_tolerant_on_mixed_arch_cluster():
    """An aarch64 JVM launched with the executor option string must not
    see a bare unrecognized -XX flag: IgnoreUnrecognizedVMOptions has to
    come FIRST (HotSpot applies it to subsequent options)."""
    import importlib

    with mock.patch.object(sess.platform, "machine",
                           return_value="x86_64"):
        fresh = importlib.reload(sess)
        e = fresh._BASE_CONF["spark.executor.extraJavaOptions"]
        assert e.split()[0] == "-XX:+IgnoreUnrecognizedVMOptions"
        assert "-XX:UseAVX=2" in e
        # the driver keeps the bare pin: a loud failure where we KNOW
        # the arch is the one the pin targets
        assert fresh._BASE_CONF[
            "spark.driver.extraJavaOptions"] == "-XX:UseAVX=2"
    importlib.reload(sess)


def test_extra_conf_empty_string_reaches_builder():
    """get_spark's empty-value skip is scoped to _BASE_CONF's
    platform-gated keys (r11 ADVICE): a user-supplied empty string in
    extra_conf is an intentional value (clearing a Spark default) and
    must survive to the builder's conf map."""
    captured = _builder_calls(extra_conf={"spark.test.flag": ""})
    assert captured.get("spark.test.flag") == ""


def test_env_overrides_are_separate_knobs(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-Xdriver")
    monkeypatch.setenv("SPARK_GRAFT_EXECUTOR_JAVA_OPTS", "-Xexec")
    import importlib

    fresh = importlib.reload(sess)
    try:
        assert fresh._BASE_CONF[
            "spark.driver.extraJavaOptions"] == "-Xdriver"
        assert fresh._BASE_CONF[
            "spark.executor.extraJavaOptions"] == "-Xexec"
    finally:
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS")
        monkeypatch.delenv("SPARK_GRAFT_EXECUTOR_JAVA_OPTS")
        importlib.reload(sess)


# ------------------------------------------- parallelism from the box


def _derive(master=None, shuffle_partitions=None, extra_conf=None,
            environ=None, affinity=4):
    m, conf = sess._session_conf(master, shuffle_partitions, extra_conf,
                                 environ or {}, affinity)
    return m, conf["spark.sql.shuffle.partitions"]


def test_explicit_local_master_sets_the_core_count():
    env = {"SPARK_GRAFT_CPUS": "16"}  # an explicit master wins over it
    assert _derive("local[3]", environ=env) == ("local[3]", "6")
    assert _derive("local[2, 5]", environ=env) == ("local[2, 5]", "4")
    assert _derive("local", environ=env) == ("local", "2")


def test_default_master_from_env_then_affinity():
    assert _derive(environ={"SPARK_GRAFT_CPUS": "6"}, affinity=4) == (
        "local[6]", "12")
    assert _derive(affinity=3) == ("local[3]", "6")
    assert _derive(environ={"SPARK_GRAFT_CPUS": ""}, affinity=5) == (
        "local[5]", "10")


def test_local_star_resolves_like_the_default():
    assert _derive("local[*]", affinity=4) == ("local[*]", "8")
    assert _derive("local[*]", environ={"SPARK_GRAFT_CPUS": "2"}) == (
        "local[*]", "4")


def test_bad_cpu_env_is_a_clear_error():
    for bad in ("0", "-2", "four"):
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            _derive(environ={"SPARK_GRAFT_CPUS": bad})


def test_cluster_master_keeps_32_partitions():
    for m in ("yarn", "k8s://https://h:443", "spark://h:7077",
              "local-cluster[2,1,1024]"):
        assert _derive(m, affinity=4) == (m, "32")
    # $SPARK_MASTER supplies the master: the builder sets none
    assert _derive(environ={"SPARK_MASTER": "yarn"}) == (None, "32")
    assert _derive(environ={"SPARK_MASTER": "local[3]"}) == (None, "6")


def test_explicit_partitions_and_extra_conf_win():
    assert _derive("local[4]", shuffle_partitions=5) == ("local[4]", "5")
    key = "spark.sql.shuffle.partitions"
    assert _derive("local[4]", shuffle_partitions=5,
                   extra_conf={key: "7"}) == ("local[4]", "7")
    _, conf = sess._session_conf(
        None, None, {"spark.sql.codegen.cache.maxEntries": "64"}, {}, 4)
    assert conf["spark.sql.codegen.cache.maxEntries"] == "64"


def test_codegen_cache_holds_a_research_cycle():
    for master in (None, "local[2]", "yarn"):
        _, conf = sess._session_conf(master, None, None, {}, 4)
        assert conf["spark.sql.codegen.cache.maxEntries"] == "1000"


def test_get_spark_derives_from_affinity(monkeypatch):
    """get_spark feeds the real environment and affinity to the
    derivation; no JVM starts."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.setattr(sess.os, "sched_getaffinity", lambda _pid: {0, 1, 2},
                        raising=False)
    captured = _builder_calls()
    assert captured["master"] == "local[3]"
    assert captured["spark.sql.shuffle.partitions"] == "6"

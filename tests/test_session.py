"""get_spark's JVM and core-count defaults: the driver JVM compiles
with raised C2 thresholds unless the caller opts out, a caller's own
driver JVM flags keep working beside them, a site's own
``spark.driver.defaultJavaOptions`` is never replaced, and the default
``local[n]`` follows the cores this process may use."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from wormpy_spark.session import JIT_OPTIONS, local_cpus, site_conf

JIT_FLAGS = JIT_OPTIONS.split()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A fresh interpreter, so get_spark starts its own JVM with extra_conf.
PROBE = textwrap.dedent(
    """
    import json, sys
    from wormpy_spark.session import get_spark

    spark = get_spark("session_probe", master="local[1]", shuffle_partitions=1,
                      extra_conf=json.loads(sys.argv[1]))
    jvm = spark.sparkContext._jvm
    args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    print("JVM_ARGS " + json.dumps(list(args.getInputArguments())))
    spark.stop()
    """
)


def _jvm_args(spark) -> list[str]:
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return list(bean.getRuntimeMXBean().getInputArguments())


def _probe_jvm_args(extra_conf: dict[str, str], **env_vars: str) -> list[str]:
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", **env_vars)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", PROBE, json.dumps(extra_conf)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(x for x in out.stdout.splitlines() if x.startswith("JVM_ARGS "))
    return json.loads(line[len("JVM_ARGS "):])


def test_session_jvm_has_jit_options(spark):
    args = _jvm_args(spark)
    assert all(flag in args for flag in JIT_FLAGS)


def test_caller_java_options_add_to_jit_options():
    """perfbench passes its JVM flags through extraJavaOptions; they
    must not displace the JIT options, nor they them."""
    args = _probe_jvm_args({"spark.driver.extraJavaOptions": "-XX:-UsePerfData"})
    assert all(flag in args for flag in JIT_FLAGS)
    assert "-XX:-UsePerfData" in args


def test_default_java_options_opt_out():
    args = _probe_jvm_args({"spark.driver.defaultJavaOptions": ""})
    assert not any(a.startswith("-XX:Tier4") for a in args)


def test_site_default_java_options_kept(tmp_path):
    """An administrator's spark-defaults.conf value of the key wins:
    get_spark must not pass its JIT options over it with --conf."""
    (tmp_path / "spark-defaults.conf").write_text(
        "spark.driver.defaultJavaOptions  -Dsite.flag=1\n"
    )
    args = _probe_jvm_args({}, SPARK_CONF_DIR=str(tmp_path))
    assert "-Dsite.flag=1" in args
    assert not any(a.startswith("-XX:Tier4") for a in args)


def test_site_conf_reads_properties_syntax(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    key = "spark.driver.defaultJavaOptions"
    assert site_conf(key) is None  # no spark-defaults.conf at all
    (tmp_path / "spark-defaults.conf").write_text(
        f"# {key} -Dcommented=1\n"
        "spark.driver.memory 2g\n"
    )
    assert site_conf(key) is None
    for line, value in [
        (f"{key}   -Da=1 -Db=2", "-Da=1 -Db=2"),
        (f"{key}=-Da=1", "-Da=1"),
        (f"  {key} : -Da=1", "-Da=1"),
        (f"{key}", ""),
    ]:
        (tmp_path / "spark-defaults.conf").write_text(line + "\n")
        assert site_conf(key) == value, line


@pytest.mark.parametrize("env, expected", [
    (None, len(os.sched_getaffinity(0))),
    ("", len(os.sched_getaffinity(0))),
    ("3", 3),
])
def test_local_cpus_default(monkeypatch, env, expected):
    """Unset, the default master uses this process's cores, not a
    fixed count; SPARK_GRAFT_CPUS still wins."""
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
    assert local_cpus() == expected

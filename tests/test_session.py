"""The runtime of a ``get_spark`` session: its driver JVM and its Python
workers.

The driver JVM starts with the C2 thresholds raised (``DRIVER_JIT_OPTIONS``),
keeping a caller's own JVM options, and runs as many cores as the process
may use. Workers fork from ``ed_twitter_spark.daemon``: warm, with Spark's
archives off their path and the imported stack frozen out of the collector.
The package reaches them from any working directory, and driver-built frames
never start a second daemon.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import types
import zipfile

import pytest
from conftest import SF_SMOKE

from ed_twitter_spark import daemon, session
from ed_twitter_spark import io as kgio

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_jvm_runs_the_compile_policy(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("Tier4InvocationThreshold").getValue() == "25000"


_JVM_DRIVER = """\
import json, os, sys
sys.path.insert(0, {repo!r})
from ed_twitter_spark.session import get_spark

os.sched_setaffinity(0, {{min(os.sched_getaffinity(0))}})
spark = get_spark("jvm-test", extra={{"spark.driver.extraJavaOptions": "-Xms512m"}})
args = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
print("RESULT " + json.dumps({{"args": list(args), "parallelism": spark.sparkContext.defaultParallelism}}))
"""


@pytest.fixture(scope="module")
def one_cpu_driver(tmp_path_factory):
    """JVM input arguments and default parallelism of a fresh ``get_spark``
    session with no core count given, a caller's ``extraJavaOptions``, and
    its process pinned to one CPU."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    proc = subprocess.run(
        [sys.executable, "-c", _JVM_DRIVER.format(repo=REPO)],
        cwd=str(tmp_path_factory.mktemp("one_cpu")),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")][-1]
    return json.loads(line[len("RESULT ") :])


def test_caller_java_options_keep_the_compile_policy(one_cpu_driver):
    args = one_cpu_driver["args"]
    policy = session.DRIVER_JIT_OPTIONS.split()
    for opt in [*policy, "-Xms512m"]:
        assert opt in args, (opt, args)
    # the caller's options come last, so a caller can override the policy
    assert args.index(policy[-1]) < args.index("-Xms512m")


def test_default_cores_follow_cpu_affinity(one_cpu_driver):
    assert one_cpu_driver["parallelism"] == 1


def test_jvm_lookups_are_cached_per_gateway(spark):
    path = kgio._jvm(spark, "org.apache.hadoop.fs.Path")
    assert kgio._jvm(spark, "org.apache.hadoop.fs.Path") is path

    # a new gateway is a new key: nothing looked up on an old one is reused
    class Gateway:
        def __init__(self, n):
            self.jvm = types.SimpleNamespace(a=types.SimpleNamespace(B=n))

    assert kgio._gateway_lookup(Gateway(1), "a.B") == 1
    assert kgio._gateway_lookup(Gateway(2), "a.B") == 2


def test_workers_fork_warm_from_the_package_daemon(spark):
    # nested, so that cloudpickle ships it by value: workers cannot import
    # the test module
    def _worker_facts(batches):
        import gc
        import os
        import sys
        import zipimport

        import pandas as pd

        loaded = [m for m in ("numpy", "pandas", "pyarrow") if m in sys.modules]
        import pyspark

        archives = [
            key
            for key, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
            and any(a in key for a in ("pyspark.zip", "py4j-", ".jar"))
        ]
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().replace(b"\0", b" ").decode()
        for _ in batches:
            yield pd.DataFrame(
                {
                    "pyspark_dir": [os.path.dirname(pyspark.__file__)],
                    "archives": [len(archives)],
                    "loaded": [",".join(loaded)],
                    "frozen": [gc.get_freeze_count()],
                    "blas": [os.environ.get("OPENBLAS_NUM_THREADS")],
                    "parent": [parent],
                }
            )

    facts = (
        spark.range(0, 8, 1, 8)
        .mapInPandas(
            _worker_facts,
            "pyspark_dir string, archives long, loaded string, frozen long, "
            "blas string, parent string",
        )
        .collect()
    )
    assert len(facts) == 8
    for row in facts:
        assert os.path.isdir(row.pyspark_dir), row.pyspark_dir
        assert row.archives == 0
        assert row.loaded == "numpy,pandas,pyarrow"
        assert row.frozen > 0
        assert row.blas == "1"
        assert session.DAEMON_MODULE in row.parent


_DRIVER = """\
import json, os, sys
sys.path.insert(0, {repo!r})
from ed_twitter_spark.session import get_spark
from ed_twitter_spark.plans.pipeline import run_pipeline

spark = get_spark("session-test", cores=4)


def origin(batches):
    import pandas as pd

    import ed_twitter_spark

    for _ in batches:
        yield pd.DataFrame({{"origin": [ed_twitter_spark.__file__]}})


origins = {{r.origin for r in spark.range(0, 4, 1, 4).mapInPandas(origin, "origin string").collect()}}
run_pipeline(spark, {sf!r}, "ckpt", resume=False)


def stat(pid):
    with open(f"/proc/{{pid}}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def cmdline(pid):
    with open(f"/proc/{{pid}}/cmdline", "rb") as f:
        return f.read().replace(b"\\0", b" ").decode()


jvm = spark.sparkContext._gateway.proc.pid
daemons = []
for name in os.listdir("/proc"):
    try:
        if name.isdigit() and int(stat(name)[1]) == jvm and "daemon" in cmdline(name):
            daemons.append(cmdline(name))
    except OSError:
        pass
print("RESULT " + json.dumps({{"origins": sorted(origins), "daemons": daemons}}))
"""


@pytest.fixture(scope="module")
def cold_build(tmp_path_factory):
    """A cold ``run_pipeline`` at SF_SMOKE in a fresh driver whose working
    directory is a scratch directory and whose environment has no
    PYTHONPATH, after one UDF that imports the package."""
    cwd = tmp_path_factory.mktemp("elsewhere")
    (cwd / "driver.py").write_text(_DRIVER.format(repo=REPO, sf=SF_SMOKE))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "driver.py"],
        cwd=str(cwd),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")][-1]
    return json.loads(line[len("RESULT ") :])


def test_udf_imports_package_from_any_working_directory(cold_build):
    assert cold_build["origins"] == [os.path.join(REPO, "ed_twitter_spark", "__init__.py")]


def test_cold_build_keeps_one_daemon(cold_build):
    assert len(cold_build["daemons"]) == 1, cold_build["daemons"]
    assert session.DAEMON_MODULE in cold_build["daemons"][0]


def _fake_site(root, pyspark_version, py4j_version):
    """An unpacked pyspark and py4j under ``root/site`` (4.1.2, 0.10.9.9)
    and Spark-style archives of the given versions under ``root/lib``."""
    site, lib = root / "site", root / "lib"
    for pkg, version in (("pyspark", "4.1.2"), ("py4j", "0.10.9.9")):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
        (site / pkg / "version.py").write_text(f"__version__: str = {version!r}\n")
    lib.mkdir()
    archives = []
    for name, pkg, version in (
        ("pyspark.zip", "pyspark", pyspark_version),
        ("py4j-0.10.9.9-src.zip", "py4j", py4j_version),
    ):
        with zipfile.ZipFile(lib / name, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
            z.writestr(f"{pkg}/version.py", f"__version__ = {version!r}\n")
        archives.append(str(lib / name))
    jar = lib / "spark-core_2.13-4.1.2.jar"
    zipfile.ZipFile(jar, "w").close()
    return [*archives, str(jar), str(site)]


def test_daemon_drops_archives_when_versions_match(tmp_path):
    path = _fake_site(tmp_path, "4.1.2", "0.10.9.9")
    assert daemon.unpacked_path(path) == [str(tmp_path / "site")]


@pytest.mark.parametrize("pyspark_version, py4j_version", [("4.0.0", "0.10.9.9"), ("4.1.2", "0.10.9.7")])
def test_daemon_falls_back_on_version_mismatch(tmp_path, pyspark_version, py4j_version):
    path = _fake_site(tmp_path, pyspark_version, py4j_version)
    assert daemon.unpacked_path(path) is None


def test_daemon_falls_back_without_unpacked_pyspark(tmp_path):
    path = _fake_site(tmp_path, "4.1.2", "0.10.9.9")
    assert daemon.unpacked_path(path[:-1]) is None


def test_daemon_module_needs_the_package_on_the_worker_path(tmp_path):
    assert session.worker_imports_package([REPO])
    assert not session.worker_imports_package([str(tmp_path)])
    # an older copy earlier on the path would be imported instead
    (tmp_path / "ed_twitter_spark").mkdir()
    (tmp_path / "ed_twitter_spark" / "__init__.py").write_text("")
    assert not session.worker_imports_package([str(tmp_path), REPO])


def test_package_init_imports_nothing():
    """``python -m ed_twitter_spark.daemon`` runs the package ``__init__``
    first; an import there could load pyspark from the archives before the
    daemon takes them off the path."""
    with open(os.path.join(REPO, "ed_twitter_spark", "__init__.py")) as f:
        tree = ast.parse(f.read())
    assert not [n for n in ast.walk(tree) if isinstance(n, (ast.Import, ast.ImportFrom))]

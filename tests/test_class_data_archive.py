"""`get_spark`'s JVM class-data archive, through its life cycle: the first
process records its class list and builds the archive when it exits, the
next one maps it, a torn archive is reported, deleted and trained again,
and a conf dir holding a real file turns the archive off. Each case runs
in fresh Python processes over a copy of the package under ``tmp_path``,
so its package root, and with it ``.spark-cds/``, is private to the test."""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]

_PROBE = """
import os
from koby_s_ai_vector_db_spark.session import CDS_STATE_CONF, get_spark
spark = get_spark("cds-probe")
spark.range(10).count()
jvm = spark._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print("STATE", spark.conf.get(CDS_STATE_CONF))
print("SHARED", bean.getVMOption("UseSharedSpaces").getValue())
print("CONF_DIR", os.environ.get("SPARK_CONF_DIR"))
"""


@pytest.fixture
def pkg(tmp_path):
    root = tmp_path / "checkout"
    shutil.copytree(
        ROOT / "koby_s_ai_vector_db_spark", root / "koby_s_ai_vector_db_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    return root


def _probe(root: Path, **env: str) -> dict:
    """Run the probe in a fresh process; its stdout as {key: value}. The
    process must print exactly the probe's three lines: an exit hook
    writes nothing to stdout."""
    full = dict(os.environ, PYTHONPATH=str(root), SPARK_GRAFT_CPUS="1",
                SPARK_DRIVER_MEMORY="1g", **env)
    full.pop("SPARK_CONF_DIR", None)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], env=full, cwd=str(root),
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert [x.split(" ", 1)[0] for x in lines] == ["STATE", "SHARED", "CONF_DIR"], lines
    return dict(x.split(" ", 1) for x in lines)


def _running_under(root: Path) -> list[str]:
    """Command lines of live processes that name a path under ``root``
    (the driver JVM's class-list option, the dump's archive path)."""
    found = []
    for p in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            cmd = open(p, "rb").read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if str(root) in cmd:
            found.append(cmd)
    return found


def test_archive_is_trained_mapped_and_retrained_when_torn(pkg):
    cds = pkg / ".spark-cds"

    first = _probe(pkg)
    assert first["STATE"].startswith("training: "), first
    assert first["CONF_DIR"] == str(cds / "conf")
    (jsa,) = glob.glob(str(cds / "*.jsa"))
    assert sorted(os.listdir(cds)) == sorted(["conf", os.path.basename(jsa)])
    assert _running_under(pkg) == []

    second = _probe(pkg)
    assert second["STATE"] == f"mapped: {jsa}", second
    assert second["SHARED"] == "true"

    os.chmod(jsa, 0o644)
    with open(jsa, "r+b") as f:
        f.truncate(1 << 20)
    torn = _probe(pkg)
    assert torn["STATE"] == f"not mapped, deleted: {jsa}", torn
    assert torn["SHARED"] == "false"
    assert not os.path.exists(jsa)

    again = _probe(pkg)
    assert again["STATE"].startswith("training: "), again
    assert os.path.exists(jsa)
    assert _running_under(pkg) == []


def test_conf_dir_with_a_real_file_turns_the_archive_off(pkg, tmp_path):
    """JDK 17 dumps no archive with a non-empty directory on the classpath,
    and SPARK_HOME/conf is on it: a real file there keeps the driver on
    that conf dir, with the archive off and the reason recorded."""
    from pyspark.find_spark_home import _find_spark_home

    real = Path(_find_spark_home())
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    for entry in real.iterdir():
        if entry.name != "conf":
            (home / entry.name).symlink_to(entry)
    (home / "conf" / "spark-defaults.conf").write_text("# site settings\n")

    out = _probe(pkg, SPARK_HOME=str(home))
    assert out["STATE"] == (
        f"off: {home / 'conf'} holds spark-defaults.conf; JDK 17 dumps no "
        "archive with a non-empty directory on the classpath"
    ), out
    assert out["CONF_DIR"] == "None"
    assert not (pkg / ".spark-cds").exists()

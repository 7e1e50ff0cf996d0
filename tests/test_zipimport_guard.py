"""What a reused Spark Python worker does when it imports the package.

The stat-guarded ``zipimporter.invalidate_caches`` it installs
(``vendor.install_zipimport_guard``) skips re-reading an unchanged
archive, re-reads a rewritten one exactly like the stdlib version, and
stays out of the driver. ``vendor.freeze_worker_heap`` freezes the
worker's import-time heap once, and never the driver's."""

from __future__ import annotations

import gc
import json
import os
import subprocess
import sys
import zipimport

import pytest
from pyspark.sql.pandas.functions import pandas_udf

from datafusion_functions_variant_spark.functions import explicit

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARDED = "datafusion_functions_variant_spark.vendor._stat_guarded_invalidate_caches"
STDLIB = "zipimport.zipimporter.invalidate_caches"

# Imports m1 from a temp zip, optionally installs the guard, counts
# zipimport._read_directory over repeated invalidations, then rewrites
# the zip with m2 and imports it.
_REWRITE_SCRIPT = r"""
import importlib, json, sys, zipfile, zipimport

zpath, install = sys.argv[1], sys.argv[2] == "1"

def write(names):
    with zipfile.ZipFile(zpath, "w") as z:
        for n in names:
            z.writestr(n + ".py", f"NAME = {n!r}\n")

write(["m1"])
sys.path.insert(0, zpath)
import m1

installed = False
if install:
    from datafusion_functions_variant_spark import vendor
    installed = vendor.install_zipimport_guard()

reads = 0
read_directory = zipimport._read_directory
def counting(path):
    global reads
    reads += 1
    return read_directory(path)
zipimport._read_directory = counting

for _ in range(5):
    importlib.invalidate_caches()
unchanged = reads
write(["m1", "m2"])
importlib.invalidate_caches()
import m2
fn = zipimport.zipimporter.invalidate_caches
print(json.dumps({
    "installed": installed,
    "unchanged_reads": unchanged,
    "rewrite_reads": reads - unchanged,
    "m2": m2.NAME,
    "invalidate_caches": f"{fn.__module__}.{fn.__qualname__}",
}))
"""


def _run(script: str, *args: str, env_extra: dict | None = None) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_REUSE_WORKER"}
    env["PYTHONPATH"] = REPO
    env.update(env_extra or {})
    out = subprocess.run(
        [sys.executable, "-c", script, *args],
        env=env, capture_output=True, text=True, timeout=120, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is a no-op on 3.13+")
def test_guard_skips_unchanged_archive_and_rereads_rewritten_one(tmp_path):
    zpath = str(tmp_path / "mods.zip")
    guarded = _run(_REWRITE_SCRIPT, zpath, "1", env_extra={"SPARK_REUSE_WORKER": "1"})
    assert guarded["installed"] and guarded["invalidate_caches"] == GUARDED
    assert guarded["unchanged_reads"] == 0
    assert guarded["rewrite_reads"] == 1
    assert guarded["m2"] == "m2"

    # the same script without the guard: the stdlib re-reads on every
    # call and finds m2 the same way
    plain = _run(_REWRITE_SCRIPT, zpath, "0")
    assert plain["invalidate_caches"] == STDLIB
    assert plain["unchanged_reads"] == 5
    assert plain["m2"] == "m2"


@pytest.mark.parametrize(
    "prelude, env_extra",
    [
        ("", {}),
        ("sys.version_info = (3, 13, 0, 'final', 0)", {"SPARK_REUSE_WORKER": "1"}),
    ],
    ids=["no_reuse_worker_env", "python_3_13"],
)
def test_guard_install_is_noop_outside_reused_workers_and_on_3_13(prelude, env_extra):
    script = (
        "import json, sys, zipimport\n"
        f"{prelude}\n"
        "import datafusion_functions_variant_spark\n"
        "from datafusion_functions_variant_spark import vendor\n"
        "installed = vendor.install_zipimport_guard()\n"
        "fn = zipimport.zipimporter.invalidate_caches\n"
        "print(json.dumps({'installed': installed,"
        " 'invalidate_caches': f'{fn.__module__}.{fn.__qualname__}'}))\n"
    )
    got = _run(script, env_extra=env_extra)
    assert got == {"installed": False, "invalidate_caches": STDLIB}


def test_package_udf_worker_runs_guard_and_driver_does_not(spark):
    @pandas_udf("string")
    def report(s):
        import gc
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        frozen = gc.get_freeze_count()
        return s.map(lambda _: f"{fn.__module__}.{fn.__qualname__} {frozen}")

    df = spark.createDataFrame([('{"a": 1}',), ('{"b": [2]}',)], "j string").coalesce(1)
    rows = df.select(explicit.variant_from_json("j").alias("v"), report("j").alias("r")).collect()
    expected = GUARDED if sys.version_info < (3, 13) else STDLIB
    reports = [r.r.split() for r in rows]
    assert [fn for fn, _ in reports] == [expected, expected]
    # the worker froze its import-time heap (vendor.freeze_worker_heap)
    assert all(int(frozen) > 0 for _, frozen in reports)
    assert all(r.v is not None for r in rows)
    fn = zipimport.zipimporter.invalidate_caches
    assert f"{fn.__module__}.{fn.__qualname__}" == STDLIB
    assert gc.get_freeze_count() == 0


def test_freeze_worker_heap_is_gated_on_reused_workers_and_runs_once():
    script = (
        "import gc, json\n"
        "import datafusion_functions_variant_spark\n"
        "from datafusion_functions_variant_spark import vendor\n"
        "first = gc.get_freeze_count()\n"
        "again = vendor.freeze_worker_heap()\n"
        "print(json.dumps({'frozen': again, 'first': first,"
        " 'after': gc.get_freeze_count()}))\n"
    )
    reused = _run(script, env_extra={"SPARK_REUSE_WORKER": "1"})
    # the package import froze the heap; a second call freezes nothing
    assert reused["frozen"] and reused["first"] > 0
    assert reused["after"] == reused["first"]
    assert _run(script) == {"frozen": False, "first": 0, "after": 0}

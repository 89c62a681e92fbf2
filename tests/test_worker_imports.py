"""A Spark Python worker's zip importers keep their directories across tasks.

The worker calls ``importlib.invalidate_caches()`` at the start of every
task; the package's first import in a worker makes ``invalidate_caches``
of every zip importer do nothing.  The probe runs in its own session on
local[2], from a directory outside the repo, so the workers import the
package from the zip that ``get_spark`` ships."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = r'''
import json
import sys
import zipimport

sys.path.insert(0, sys.argv[1])
hooks_before = list(sys.path_hooks)
driver_method = zipimport.zipimporter.invalidate_caches

import pandas as pd

from entity_extraction_svc_spark.session import get_spark


def probe(batches):
    import importlib
    import pkgutil
    import zipimport

    import entity_extraction_svc_spark as pkg
    from entity_extraction_svc_spark import operators
    from entity_extraction_svc_spark.operators.dedup import _py_norm_tokens

    # the importers keep the directory they read when they were created:
    # CPython 3.11's own invalidate_caches replaces ``_files`` with a re-read
    zips = [i for i in sys.path_importer_cache.values()
            if isinstance(i, zipimport.zipimporter)]
    dirs = [i._files for i in zips]
    for i in zips:
        i.invalidate_caches()
    stable = (len(zips) > 0
              and all(i._files is d for i, d in zip(zips, dirs))
              and zipimport.zipimporter.invalidate_caches.__module__
              == pkg.__name__)
    fresh = next(f"{operators.__name__}.{m.name}"
                 for m in pkgutil.iter_modules(operators.__path__)
                 if f"{operators.__name__}.{m.name}" not in sys.modules)
    importlib.invalidate_caches()
    imported = importlib.import_module(fresh).__name__ == fresh
    for b in batches:
        yield pd.DataFrame({"stable": [stable], "fresh": [fresh],
                            "imported": [imported], "pkg_file": [pkg.__file__],
                            "tokens": [" ".join(_py_norm_tokens("Ab  c"))]})


spark = get_spark(app_name="worker-imports", master="local[2]")
rows = (spark.range(4).repartition(2)
        .mapInPandas(probe, "stable boolean, fresh string, imported boolean, "
                            "pkg_file string, tokens string")
        .collect())
print(json.dumps({
    "rows": [r.asDict() for r in rows],
    "driver_hooks_unchanged": sys.path_hooks == hooks_before,
    "driver_method_unchanged":
        zipimport.zipimporter.invalidate_caches is driver_method,
}))
spark.stop()
'''


def test_worker_zip_importers_ignore_invalidate_caches():
    """Inside a worker every zip importer's ``invalidate_caches`` does
    nothing, and a package module the worker has not imported yet still
    imports after ``importlib.invalidate_caches()``; the driver's path hooks
    and zip importer method stay as they were."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", PROBE, REPO], cwd=tempfile.mkdtemp(),
        env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(got["rows"]) == 2
    for row in got["rows"]:
        assert ".zip" in row["pkg_file"]
        assert row["stable"]
        assert row["fresh"].startswith("entity_extraction_svc_spark.operators.")
        assert row["imported"]
        assert row["tokens"] == "ab c"
    assert got["driver_hooks_unchanged"] and got["driver_method_unchanged"]

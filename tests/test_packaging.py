"""--py-files packaging: the engine must import cleanly from a zip
(the north-rule launch path is `spark-submit --py-files
recipys_spark.zip`; a broken zip import only surfaces at cluster
submit time otherwise). scripts/spark_submit_bake.sh builds the same
archive with the zip CLI; this builds it hermetically with zipfile."""

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_pkg_zip(dest: str) -> str:
    zpath = os.path.join(dest, "recipys_spark.zip")
    root = os.path.join(REPO, "recipys_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, REPO)
                    zf.write(full, rel)
    return zpath


def test_zip_imports_cleanly(tmp_path):
    zpath = build_pkg_zip(str(tmp_path))
    probe = (
        "import sys; sys.path.insert(0, %r); "
        "import recipys_spark; "
        "from recipys_spark import Recipe, Accumulator; "
        "from recipys_spark.operators import StepHistorical, StepImputeFill; "
        "from recipys_spark.operators.similarity import recommend_lsh_params; "
        "from recipys_spark.operators.jpeg import decode_jpeg; "
        "from recipys_spark.streaming import dedup, session; "
        "import recipys_spark.sources.io; "
        "import recipys_spark.functions.worker; "
        "assert 'recipys_spark.zip' in recipys_spark.__file__, recipys_spark.__file__; "
        "print('ZIP_IMPORT_OK', recipys_spark.__file__)"
    ) % zpath
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        timeout=120,
        cwd=str(tmp_path),  # NOT the repo root — the zip must win
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ZIP_IMPORT_OK" in proc.stdout

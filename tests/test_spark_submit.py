"""The north rule requires the job to run under ``spark-submit
--py-files``: package the library as a zip, submit the CDC job as a fresh
application, and verify the final table state. The local-filesystem
binding jar rides along on ``--driver-class-path`` and must be active; the
driver JIT policy rides along on ``--driver-java-options``, so the job
logs no warning asking for it."""

import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from multi_table_plugins_spark.session import JIT_POLICY, LOCALFS_CONF, LOCALFS_JAR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_package(dst: str) -> str:
    zpath = os.path.join(dst, "mtp.zip")
    pkg = os.path.join(REPO, "multi_table_plugins_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))
    return zpath


@pytest.mark.slow
def test_spark_submit_py_files_end_to_end(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark

        spark_submit = os.path.join(
            os.path.dirname(pyspark.__file__), "bin", "spark-submit"
        )
    assert os.path.exists(spark_submit), "spark-submit not found"

    from multi_table_plugins_spark.feed import FeedSpec, generate_feed, expected_final_state

    feed = str(tmp_path / "feed")
    generate_feed(feed, FeedSpec(n_events=2_000, n_tables=2, keys_per_table=100, n_files=2, seed=3))
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    zpath = _zip_package(str(tmp_path))

    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--py-files", zpath,
            "--driver-class-path", LOCALFS_JAR,
            "--driver-java-options", " ".join(JIT_POLICY),
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            os.path.join(REPO, "run_cdc_job.py"),
            "--feed-dir", feed,
            "--warehouse", wh,
            "--checkpoint", ckpt,
            "--app-id", "submit-test",
            "--n-buckets", "4",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),  # NOT the repo dir — forces --py-files resolution
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    fs_class = LOCALFS_CONF["spark.hadoop.fs.file.impl"]
    # spark-submit merges the Python driver's stderr into its own stdout
    assert f"file: filesystem: {fs_class}" in proc.stdout, proc.stdout[-3000:]
    assert "JIT policy" not in proc.stdout + proc.stderr

    # verify final state against the batch oracle with a fresh local session
    oracle = expected_final_state(feed)
    import duckdb
    import json, glob

    for t, want in oracle.items():
        manifests = sorted(glob.glob(os.path.join(wh, t, "_manifests", "manifest-*.json")))
        assert manifests, f"no manifests for {t}"
        m = json.load(open(manifests[-1]))
        files = [
            os.path.join(wh, t, e["path"])
            for b in m["buckets"].values()
            for e in b.get("base", []) + b.get("delta", [])
        ]
        q = f"""
            SELECT doc_id FROM (
              SELECT doc_id, _deleted, row_number() OVER (
                  PARTITION BY doc_id ORDER BY _lsn DESC) rn
              FROM parquet_scan({files!r}, union_by_name=true)
            ) WHERE rn = 1 AND NOT _deleted ORDER BY doc_id
        """
        got = [r[0] for r in duckdb.sql(q).fetchall()]
        assert got == list(want["doc_id"]), t

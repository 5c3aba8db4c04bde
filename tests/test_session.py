"""Engine session posture: what every session the engine touches gets."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)


def test_get_spark_ships_the_package_to_python_workers(spark):
    paths = spark.sparkContext.environment.get("PYTHONPATH", "").split(os.pathsep)
    assert REPO in paths


def test_python_workers_import_the_package_from_any_working_directory(
    tmp_path, sf_dir
):
    """A driver that starts outside the checkout and builds its own
    session (no get_spark) still runs a mapInPandas query: the workers
    import ``square_etl_spark`` from the checkout, not from the cwd."""
    driver = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        from square_etl_spark.queries import queries

        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        n = queries()["multimodal_decode_jpeg"](spark, {sf_dir!r}).count()
        print("ROWS", n)
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", driver],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ModuleNotFoundError" not in out.stderr
    rows = [ln for ln in out.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[-1].split()[1]) > 0, out.stdout[-2000:]


def test_dataframe_calls_skip_python_origin_capture(spark, monkeypatch):
    """Origin capture is off in the engine session: a Column call costs
    the py4j round trips of the call itself (3 for ``F.col``), not the
    13 it takes when every call first sends its Python call site."""
    from py4j.clientserver import ClientServerConnection
    from pyspark.sql import functions as F

    calls = []
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    F.col("x")  # the first call in a process reads and caches the conf
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    for _ in range(10):
        F.col("x")
    monkeypatch.undo()
    assert 0 < len(calls) <= 3 * 10, len(calls)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"

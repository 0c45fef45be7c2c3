"""Worker-importability regression (round 6): module-level Python UDFs
pickle BY REFERENCE, so a vanilla session launched outside the repo
(driver adds the repo to sys.path at runtime; workers never see it)
died with ModuleNotFoundError on every pandas_udf/mapInPandas path.
ship_package() closes this by addPyFile-ing the package zip."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())

# 1) Arrow scorer (functions/vectors._dot_arrow_batch — by-reference)
from pyspark.sql import functions as F
from eventsgateway_spark.functions.vectors import dot_arrow
df = spark.createDataFrame(
    [([1.0, 2.0], [3.0, 4.0])], "a array<double>, b array<double>"
)
assert df.select(dot_arrow(F.col("a"), F.col("b")).alias("d")).first()["d"] == 11.0

# 2) Avro codec (JVM UDFs from eventsgateway_spark/jvm: needs the jar the
#    package compiles and adds with ADD JAR, not the shipped zip)
from eventsgateway_spark.gateway import Gateway
from eventsgateway_spark.sources.avro_codec import decode_event
gw = Gateway(spark, default_topic="t")
gw.send_at("n", 1_690_000_000_000, {{"k": "v"}})
payloads = gw.ingest().payloads.collect()
assert len(payloads) == 1
assert decode_event(bytes(payloads[0]["value"]))["props"] == {{"k": "v"}}

# 3) multimodal mapInPandas (operators/multimodal — by-reference)
from eventsgateway_spark.operators.multimodal import (
    MEDIA_SCHEMA, decode_media, encode_ppm,
)
import numpy as np
img = np.zeros((2, 2, 3), np.uint8)
assets = spark.createDataFrame(
    [(1, "image/ppm", bytearray(encode_ppm(img)), 1)], MEDIA_SCHEMA
)
feats = decode_media(assets, stub=False).collect()
assert feats[0]["width"] == 2
print("SHIPPING_OK")
spark.stop()
"""


def test_vanilla_session_outside_repo_can_run_python_udfs(tmp_path):
    """Driver in /tmp-cwd with NO repo on PYTHONPATH: Python workers
    must still import the package (via the shipped zip)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", PROBE.format(repo=REPO)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "SHIPPING_OK" in proc.stdout, (
        f"stdout={proc.stdout[-2000:]}\nstderr={proc.stderr[-3000:]}"
    )

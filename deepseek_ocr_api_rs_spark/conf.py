"""SparkSession construction with the scale-oriented defaults this engine needs.

Mirrors the reference's layered config (CLI > config.toml > defaults,
crates/config/src/config.rs:296-324) as env-var > caller kwargs > defaults.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Defaults chosen for the sandbox (single JVM, local[N]); on a real cluster
# the same knobs are what you would tune, just larger.
_DEFAULT_CONFS: dict[str, str] = {
    # AQE: runtime re-planning, shuffle coalescing and skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # Arrow transfer for pandas UDFs — the mandated vectorized path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # Reuse Python workers so per-worker lazy singletons (scorer tables,
    # parser setup — the RoPE-cache pattern, crates/.../rope.rs:41-60) pay
    # their init once per executor core, not once per batch.
    "spark.python.worker.reuse": "true",
    # Keep timestamps deterministic across engines (duckdb oracle parity).
    "spark.sql.session.timeZone": "UTC",
    # Broadcast joins for small dims (region/nation/weight tables).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.shuffle.partitions": "32",
    # Files: bound scan-task size so 100 TB => ~1.6M well-sized tasks.
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
    # Cap plan-string generation (diagnostics only — explain/UI events).
    # Iterative operators (connected components, HITS, PageRank) stack
    # joins over cached frames between lineage cuts, and Spark's tree
    # printer expands every InMemoryRelation body RECURSIVELY — ~5×
    # branching per round makes the unbounded default an exponential
    # driver-heap hazard (observed: java.lang.OutOfMemoryError inside
    # generateTreeString while localCheckpoint'ing round 5 of a CC loop).
    # 64 KB keeps explain output useful and the driver safe at any
    # iteration depth/cluster size.
    "spark.sql.maxPlanStringLength": "65536",
}


def build_session(
    app_name: str = "deepseek-ocr-api-rs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with this engine's defaults.

    Precedence: explicit args > ``SPARK_GRAFT_*`` env > defaults.
    """
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER",
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
    )
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(_DEFAULT_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _zip_path() -> str:
    return os.path.join(
        tempfile.gettempdir(), f"deepseek_ocr_api_rs_spark-{os.getpid()}.zip"
    )


def _remove_zip() -> None:
    """At exit, remove the zip of the exiting process. A forked child that
    inherited this hook has another pid, so it never removes its parent's."""
    with contextlib.suppress(FileNotFoundError):
        os.remove(_zip_path())


def package_zip() -> str:
    """Zip this package for --py-files-style shipping (north_rule:
    'packaged for spark-submit --py-files'). Cached per process and removed
    when the process exits.

    Only ``.py`` files ship: data files such as the driver-side oracle
    goldens never reach executors. The zip is built under a temporary name
    and renamed into place, so a build that fails part-way leaves no
    truncated zip for the cache check to pass on."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = _zip_path()
    if not os.path.exists(zip_path):
        atexit.register(_remove_zip)
        tmp_path = zip_path + ".tmp"
        with zipfile.ZipFile(tmp_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in sorted(files):
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "deepseek_ocr_api_rs_spark",
                        os.path.relpath(full, pkg_dir),
                    )
                    zf.write(full, rel)
        os.replace(tmp_path, zip_path)
    return zip_path


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable on executor Python workers regardless of
    the driver's cwd — the runtime equivalent of `spark-submit --py-files`.
    Idempotent: addPyFile dedupes by name."""
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        # e.g. Spark Connect sessions without an SC — caller ships explicitly
        pass


def testdata_dir(sf: str = "0.01") -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", f"/root/testdata/sf{sf}")

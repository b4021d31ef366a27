"""One micro-batch harness for the ``foreachBatch`` stream queries.

Every ingest/training stream in the suite is the same driver around a
different batch function ``fn(df, batch_id)``:

1. **Source-file replay** (:func:`replay_table`): a file-source stream
   over ``<sf_dir>/<table>.parquet`` runs twice with
   ``trigger(availableNow=True)`` over one checkpoint. The first run
   ingests the file, the second must be a no-op.
2. **Arrival replay** (:func:`replay_arrivals`): a DataFrame is staged
   as K arrival slices in one ``partitionBy`` pass; each arrival is
   moved into the watched directory and runs as exactly one batch, and
   a final run must be a no-op.
3. **Versioned state** (:func:`state_versions`, :func:`latest_state`):
   batch N writes ``v{N}`` under a state directory and rebuilds from
   the latest version strictly below N, so a crash-replayed batch never
   merges onto its own partial output.

The checks read each run's ``recentProgress`` instead of trusting the
checkpoint, and raise ``RuntimeError`` (not an assert, which ``-O``
strips). ``numInputRows`` counts the rows the batch function actually
reads, so a batch function must consume its DataFrame. All paths go
through the Hadoop FS API, so the scratch root may be a DFS URI.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsarsea_spark.engine import _hadoop_fs, fs_list_names

__all__ = ["replay_table", "replay_arrivals", "run_available",
           "run_noop", "state_versions", "latest_state",
           "version_path"]

BatchFn = Callable[[DataFrame, int], None]


def run_available(source: DataFrame, fn: BatchFn,
                  ckpt_dir: str) -> list:
    """Run ``source`` through ``foreachBatch(fn)`` once with the
    availableNow trigger over ``ckpt_dir``; returns the run's
    ``StreamingQueryProgress`` list."""
    q = (source.writeStream.foreachBatch(fn)
         .option("checkpointLocation", ckpt_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q.recentProgress


def run_noop(source: DataFrame, fn: BatchFn, ckpt_dir: str) -> None:
    """A rerun over a checkpoint that has consumed every input file
    must read zero rows (exactly-once); raise otherwise."""
    rows = sum(p.numInputRows for p in run_available(source, fn,
                                                     ckpt_dir))
    if rows:
        raise RuntimeError(
            f"replay over checkpoint {ckpt_dir} read {rows} rows; "
            f"expected a no-op")


def replay_table(spark: SparkSession, sf_dir: str, table: str,
                 base: str, fn: BatchFn) -> None:
    """Source-file replay: stream ``<sf_dir>/<table>.parquet`` through
    ``fn`` (checkpoint ``<base>/ckpt``), then rerun as a checked
    no-op."""
    schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    ckpt = f"{base}/ckpt"

    def source() -> DataFrame:
        return (spark.readStream.schema(schema)
                .option("pathGlobFilter", f"{table}.parquet")
                .parquet(sf_dir))

    run_available(source(), fn, ckpt)
    run_noop(source(), fn, ckpt)


def replay_arrivals(spark: SparkSession, df: DataFrame, key: str,
                    k: int, base: str, fn: BatchFn) -> None:
    """Arrival replay: stage ``df`` as ``k`` slices by the integer
    expression ``key`` (values ``0..k-1``) under ``<base>/arrivals``
    in ONE pass, then move arrival ``a``'s files into
    ``<base>/incoming`` and run one availableNow batch per arrival
    (checkpoint ``<base>/ckpt``); finish with a checked no-op run.

    Moving (rename) is the file source's arrival contract: a file
    appears in the watched directory whole. Raises ``RuntimeError``
    when an arrival is skipped or split across batches."""
    arrivals, watch = f"{base}/arrivals", f"{base}/incoming"
    ckpt = f"{base}/ckpt"
    # the partition column is dropped from the data files, so each
    # __a={a} directory holds exactly arrival a's rows in df's schema
    (df.withColumn("__a", F.expr(key))
     .repartition(k, "__a")
     .write.partitionBy("__a").parquet(arrivals))
    fs, _ = _hadoop_fs(spark, watch)
    path = spark._jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(path(watch))

    def source() -> DataFrame:
        return spark.readStream.schema(df.schema).parquet(watch)

    for a in range(k):
        adir = f"{arrivals}/__a={a}"
        for name in fs_list_names(spark, adir):
            if name.endswith(".parquet") and not fs.rename(
                    path(f"{adir}/{name}"),
                    path(f"{watch}/a{a}_{name}")):
                raise RuntimeError(f"could not move {adir}/{name}")
        batches = [p for p in run_available(source(), fn, ckpt)
                   if p.numInputRows]
        if len(batches) != 1:
            raise RuntimeError(
                f"arrival {a} of {k} ran as {len(batches)} batches, "
                f"expected 1: an arrival was skipped or split")
    run_noop(source(), fn, ckpt)


def version_path(state_dir: str, batch_id: int) -> str:
    """Where batch ``batch_id`` writes its state version."""
    return f"{state_dir}/v{batch_id}"


def state_versions(spark: SparkSession, state_dir: str,
                   below: int | None = None) -> list[str]:
    """Paths of the committed versions ``v{N}`` under ``state_dir``,
    N ascending, only N < ``below`` when given. ``*.tmp`` leftovers of
    an interrupted write are not versions; a version deleted mid-
    replace is simply absent, so the batch rebuilds from the one
    below."""
    ns = sorted(int(n[1:]) for n in fs_list_names(spark, state_dir)
                if n.startswith("v") and not n.endswith(".tmp"))
    return [version_path(state_dir, n) for n in ns
            if below is None or n < below]


def latest_state(spark: SparkSession, state_dir: str,
                 below: int | None = None) -> str | None:
    """The latest :func:`state_versions` entry, or None."""
    vs = state_versions(spark, state_dir, below)
    return vs[-1] if vs else None

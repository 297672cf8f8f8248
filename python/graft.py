"""PySpark wrapper for the graft chain-data engine — the optional Python
surface of SURVEY §3.3 (reference: cryo crates/python, whose pyo3
signature mirrors every CLI flag; python/cryo/_collect.py wraps output
formats).

Usage (any environment with pyspark and the graft classes on the driver
classpath)::

    from pyspark.sql import SparkSession
    import graft

    spark = (SparkSession.builder
             .config("spark.driver.extraClassPath", "path/to/graft/classes")
             .getOrCreate())

    # in-memory collect — kwargs use the CLI flag vocabulary with
    # underscores (blocks="1000:1020", contract=[...], u256_types=[...])
    df = graft.collect("logs", spark=spark, source_dir="fixtures/chain",
                       blocks="1000:1060", output_format="pandas")

    # file extraction — same flags as the CLI, returns a result dict
    res = graft.freeze("blocks", "transactions", spark=spark,
                       source_dir="fixtures/chain", output_dir="/tmp/out",
                       blocks="1000:1060")

Both entry points build a CLI argv and hand it to the Scala side through
the py4j gateway (graft.Cli.collectDf / graft.Cli.freezeJson), so flag
semantics are identical to the CLI by construction — there is no second
option parser to drift.
"""

import json

__all__ = ["collect", "freeze", "pipeline", "prep", "index_build",
           "index_search", "index_compact", "read_lake", "compact_lake",
           "verify_lake", "cli_args"]


def cli_args(*datatypes, **kwargs):
    """Build a CLI argv from python kwargs (cryo's pyo3 adapter rule:
    python name with underscores -> --flag-with-dashes; list values
    become repeated tokens; True booleans become bare flags)."""
    argv = [str(d) for d in datatypes]
    for key, value in kwargs.items():
        if value is None or value is False:
            continue
        flag = "--" + key.replace("_", "-")
        if value is True:
            argv.append(flag)
        elif isinstance(value, (list, tuple)):
            argv.append(flag)
            argv.extend(str(v) for v in value)
        else:
            argv.extend([flag, str(value)])
    return argv


def _convert(df, output_format):
    """spark | pandas | list (records) | dict (columns) — the one
    conversion ladder every DataFrame-returning entry point shares
    (mirroring python/cryo/_collect.py's output choices). Unknown
    formats fail BEFORE any toPandas work."""
    if output_format == "spark":
        return df
    if output_format not in ("pandas", "list", "dict"):
        raise ValueError(f"unknown output_format: {output_format}")
    pdf = df.toPandas()
    if output_format == "pandas":
        return pdf
    if output_format == "list":
        return pdf.to_dict("records")
    return pdf.to_dict("list")


def _jarr(spark, argv):
    gateway = spark.sparkContext._gateway
    arr = gateway.new_array(gateway.jvm.java.lang.String, len(argv))
    for i, a in enumerate(argv):
        arr[i] = a
    return arr


def collect(datatype, spark=None, output_format="pandas", **kwargs):
    """Collect one datatype in memory (cryo collect.rs:5-30 semantics:
    exactly one datatype, no files).

    output_format: "spark" (pyspark DataFrame), "pandas", "list"
    (records), or "dict" (columns) — mirroring python/cryo/_collect.py's
    polars/pandas/list/dict choices.
    """
    if spark is None:
        raise ValueError("pass spark=<SparkSession>")
    from pyspark.sql import DataFrame

    argv = cli_args(datatype, **kwargs)
    jdf = spark._jvm.graft.Cli.collectDf(_jarr(spark, argv), spark._jsparkSession)
    return _convert(DataFrame(jdf, spark), output_format)


def pipeline(query, sf_dir, spark=None, output_format="spark"):
    """Run any registered SparkEntry query (TPC-H pack, text/dedup,
    similarity, events, chain_*) against a testdata/fixture dir — the
    whole driver-contract surface from Python.

    output_format: "spark" (default), "pandas", "list", or "dict".
    """
    if spark is None:
        raise ValueError("pass spark=<SparkSession>")
    from pyspark.sql import DataFrame

    argv = [query, sf_dir, "--show", "0"]
    jdf = spark._jvm.graft.Cli.pipelineDf(_jarr(spark, argv), spark._jsparkSession)
    return _convert(DataFrame(jdf, spark), output_format)


def freeze(*datatypes, spark=None, **kwargs):
    """Extract datatypes to chunked files with the full CLI flag surface.

    Returns {"completed": [...], "skipped": [...], "errored": [...],
    "rows": N}, or None for dry runs.
    """
    if spark is None:
        raise ValueError("pass spark=<SparkSession>")
    argv = cli_args(*datatypes, **kwargs)
    out = spark._jvm.graft.Cli.freezeJson(_jarr(spark, argv), spark._jsparkSession)
    return json.loads(out)


def read_lake(datatype, lake_dir, spark=None, output_format="spark",
              **kwargs):
    """Scan a FROZEN lake (the chunk files ``freeze``/follow-mode wrote)
    back into a DataFrame, pruning files by their filename block ranges
    at planning time. kwargs use the lake CLI flag vocabulary:
    blocks="1015:1045" (``latest`` resolves to the lake head), network,
    tag (label or partition-dim stub).

    output_format: "spark" (default), "pandas", "list", or "dict".
    """
    if spark is None:
        raise ValueError("pass spark=<SparkSession>")
    from pyspark.sql import DataFrame

    argv = cli_args(datatype, lake_dir=lake_dir, **kwargs)
    jdf = spark._jvm.graft.Cli.lakeDf(_jarr(spark, argv), spark._jsparkSession)
    return _convert(DataFrame(jdf, spark), output_format)


def compact_lake(lake_dir, target_chunk_size, spark=None, network=None,
                 up_to_block=None):
    """Coalesce contiguous small chunk files in a frozen lake into files
    of up to ``target_chunk_size`` blocks (content-preserving, crash-safe
    — see LakeCompact.scala). Follow-mode lakes accrete small chunks;
    compaction keeps later scans planning over proportionally fewer
    files. ``up_to_block`` bounds which files may be rewritten; a live
    stream still sees merged files as new paths and REDELIVERS their
    rows — compact under a live tail only if downstream dedupes on
    redelivery, else quiesce the stream first (LakeCompact scaladoc)."""
    if spark is None:
        raise ValueError("pass spark=<SparkSession>")
    argv = cli_args("compact", lake_dir=lake_dir,
                    target_chunk_size=target_chunk_size, network=network,
                    up_to_block=up_to_block)
    spark._jvm.graft.Cli.lakeDf(_jarr(spark, argv), spark._jsparkSession)


def verify_lake(lake_dir, spark=None, network=None):
    """Audit a frozen lake's coverage from file names only: one pandas
    row per (network, dataset, tags, format) group with the covered
    range plus gap/overlap counts (details print as ``!!`` lines).
    ``n_cross_tag_overlaps`` counts range collisions between DIFFERENT
    tag groups — expected for partition dims, duplicate coverage if the
    tags are labels; ``overlaps_truncated`` flags a report capped at
    1000 pairs (counts then under-report)."""
    if spark is None:
        raise ValueError("pass spark=<SparkSession>")
    from pyspark.sql import DataFrame

    argv = cli_args("verify", lake_dir=lake_dir, network=network)
    jdf = spark._jvm.graft.Cli.lakeDf(_jarr(spark, argv), spark._jsparkSession)
    return DataFrame(jdf, spark).toPandas()


def index_build(sf_dir, index_dir, spark=None):
    """Materialize the IVF-PQ index artifacts (centroids, residual
    codebook, compressed codes) once; search many times with
    :func:`index_search`."""
    if spark is None:
        raise ValueError("pass spark=<SparkSession>")
    argv = ["build", sf_dir, index_dir]
    spark._jvm.graft.Cli.indexRun(_jarr(spark, argv), spark._jsparkSession)


def index_search(sf_dir, index_dir, spark=None, out=None):
    """Search the persisted IVF-PQ index (bit-identical to the in-query
    search). Writes parquet to ``out`` when given, else prints."""
    if spark is None:
        raise ValueError("pass spark=<SparkSession>")
    argv = ["search", sf_dir, index_dir, "--show", "0"]
    if out is not None:
        argv += ["--out", str(out)]
    spark._jvm.graft.Cli.indexRun(_jarr(spark, argv), spark._jsparkSession)


def index_compact(index_dir, spark=None):
    """Rewrite streaming-appended index artifacts (IVF-PQ codes, text
    dedup bands) into key-partitioned files — search results are
    hash-identical before/after, the file count collapses."""
    if spark is None:
        raise ValueError("pass spark=<SparkSession>")
    argv = ["compact", index_dir]
    spark._jvm.graft.Cli.indexRun(_jarr(spark, argv), spark._jsparkSession)


def difftest(rpc, source_dir, spark=None, blocks="1000:1060"):
    """Run the cryo_test-style differential sweep: collect every corpus
    datatype live from ``rpc`` AND from the reference bronze dir, diff
    canonical rows. Each live fetch runs one task per core of the
    session (fewer for a short range). Returns a list of dicts
    ``{datatype, ok, ref_rows, live_rows}`` — does not raise on
    mismatches."""
    import json
    if spark is None:
        raise ValueError("pass spark=<SparkSession>")
    argv = ["--rpc", rpc, "--source-dir", source_dir, "--blocks", blocks]
    out = spark._jvm.graft.Cli.diffTestJson(_jarr(spark, argv),
                                            spark._jsparkSession)
    return json.loads(out)


def prep(sf_dir, out_dir, spark=None):
    """Persist-once corpus prep: write the per-document audit table
    (``<out>/audit``) from one pipeline run (single LSH+CC pass) and
    derive the per-source rollup (``<out>/source_stats``) from the
    written parquet."""
    if spark is None:
        raise ValueError("pass spark=<SparkSession>")
    spark._jvm.graft.Cli.prepDirs(sf_dir, out_dir, spark._jsparkSession)

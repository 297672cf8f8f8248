"""Smoke test for the PySpark wrapper (python/graft.py).

Not part of `sbt test` — requires a python with pyspark installed and
the compiled graft classes (sbt compile) on the driver classpath:

    python3 python/smoke_test.py
"""
import os, sys, glob, tempfile
sys.path.insert(0, os.path.join(os.path.dirname(__file__)))
from pyspark.sql import SparkSession
spark = (SparkSession.builder
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.driver.extraClassPath", "/root/repo/target/scala-2.13/classes")
    .config("spark.ui.enabled", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import graft

# collect: pandas output, entity filter, column projection
pdf = graft.collect("blocks", spark=spark, source_dir="/root/repo/fixtures/chain",
                    blocks="1000:1010", columns=["block_number", "gas_used"])
assert list(pdf.columns) == ["block_number", "gas_used"], pdf.columns
assert len(pdf) == 10, len(pdf)

# collect: spark output + u256 options
df = graft.collect("logs", spark=spark, source_dir="/root/repo/fixtures/chain",
                   blocks="1000:1060", output_format="spark")
assert df.count() == 194, df.count()

# freeze: files + result dict
out = tempfile.mkdtemp(prefix="graft_py")
res = graft.freeze("blocks", "transactions", spark=spark,
                   source_dir="/root/repo/fixtures/chain", output_dir=out,
                   blocks="1000:1060", chunk_size=60, no_verbose=True)
assert len(res["completed"]) == 2, res
assert res["rows"] > 0
assert glob.glob(out + "/*__blocks__*.parquet")

# pipeline: any registered driver query from Python
dedup = graft.pipeline("q_doc_dedup_exact", "/root/testdata/sf0.001",
                       spark=spark, output_format="pandas")
assert len(dedup) > 0 and "canonical_id" in dedup.columns, dedup.columns
fees = graft.pipeline("chain_fee_analytics", "/root/testdata/sf0.001",
                      spark=spark)
assert fees.count() > 0

# index lifecycle: build once, search the persisted artifacts
idx = tempfile.mkdtemp(prefix="graft_pyidx")
graft.index_build("/root/testdata/sf0.001", idx, spark=spark)
# artifacts publish through the pointer layout: <name>.ptr.vN names the
# version dir <name>.vN-<uid> that holds the parquet parts
assert glob.glob(idx + "/codes.parquet.ptr.v*"), "codes pointer not written"
assert glob.glob(idx + "/codes.parquet.v*/part-*"), "codes not written"
res_dir = tempfile.mkdtemp(prefix="graft_pyres") + "/res"
graft.index_search("/root/testdata/sf0.001", idx, spark=spark, out=res_dir)
found = spark.read.parquet(res_dir)
assert found.count() == 30, found.count()

# ---------------------------------------------------------------------
# Flag parity battery (reference: crates/python/rust/collect_adapter.rs
# mirrors every CLI flag as a kwarg). Each case runs the SAME flags
# through BOTH surfaces — python graft.collect (in-memory) and the CLI
# freeze path (files on disk) — and asserts the rows are byte-for-byte
# identical, so the python kwarg surface can never drift from the CLI.
FIX = "/root/repo/fixtures/chain"

def rows_of(pdf, keep_order=False):
    # compare REPRs: NaN (pandas' null for nullable ints) breaks tuple
    # equality (nan != nan) while repr('nan') compares fine
    vals = [repr(tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                       for v in row))
            for row in pdf.itertuples(index=False, name=None)]
    return vals if keep_order else sorted(vals)

def parity(datatype, keep_order=False, expect_files=1, **flags):
    got = graft.collect(datatype, spark=spark, source_dir=FIX,
                        output_format="pandas", **flags)
    out = tempfile.mkdtemp(prefix="graft_parity")
    res = graft.freeze(datatype, spark=spark, source_dir=FIX,
                       output_dir=out, no_verbose=True, **flags)
    assert len(res["completed"]) == expect_files, (datatype, flags, res)
    fmt = "csv" if flags.get("csv") else "json" if flags.get("json") else "parquet"
    if fmt == "parquet":
        frozen = spark.read.parquet(*res["completed"]).toPandas()
    elif fmt == "csv":
        frozen = (spark.read.option("header", "true")
                  .option("inferSchema", "true").csv(res["completed"]).toPandas())
    else:
        frozen = spark.read.json(res["completed"]).toPandas()[list(got.columns)]
    assert list(frozen.columns) == list(got.columns), \
        (datatype, flags, list(frozen.columns), list(got.columns))
    a, b = rows_of(got, keep_order), rows_of(frozen, keep_order)
    assert a == b, (datatype, flags, a[:2], b[:2])
    return got

# 1 blocks + 2 columns: explicit projection, exact order
parity("blocks", blocks="1000:1030", columns=["block_number", "gas_used"])
# 3 include-columns / 4 exclude-columns: default-schema edits
parity("blocks", blocks="1000:1030", include_columns=["logs_bloom"])
parity("blocks", blocks="1000:1030", exclude_columns=["extra_data", "logs_bloom"])
# 5 u256-types: representation expansion on a u256-carrying dataset
pdf = parity("balance_diffs", blocks="1000:1060",
             u256_types=["u64", "string"])
assert any(c.endswith("_string") for c in pdf.columns), pdf.columns
# 6 hex: binary columns as 0x strings
pdf = parity("blocks", blocks="1000:1010", hex=True)
assert pdf["block_hash"].map(lambda s: s.startswith("0x")).all()
# 7 sort: server-side ordering survives the file round trip
parity("blocks", blocks="1000:1060", sort=["gas_used", "block_number"],
       keep_order=True)
# 8 exclude-failed: failed txs dropped identically
parity("transactions", blocks="1000:1060", exclude_failed=True)
# 9 contract + 10 topic0: entity pushdown on logs
t0 = "0x" + "ddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
pdf = parity("logs", blocks="1000:1060", topic0=t0)
assert len(pdf) > 0
# 11 chunk-size: chunked file layout (collect output == union of chunks)
parity("blocks", blocks="1000:1060", chunk_size=30, expect_files=2)
# 12 csv + 13 label: alternate sink format and cryo file naming
res = graft.freeze("blocks", spark=spark, source_dir=FIX,
                   output_dir=tempfile.mkdtemp(prefix="graft_pycsv"),
                   blocks="1000:1020", csv=True, label="pysmoke",
                   no_verbose=True)
assert len(res["completed"]) == 1 and "__pysmoke__" in res["completed"][0]
assert res["completed"][0].endswith(".csv")
# 14 txs: tx-hash time dimension from python
tx_pdf = graft.collect("transactions", spark=spark, source_dir=FIX,
                       output_format="pandas", hex=True, blocks="1000:1060")
one_hash = tx_pdf["transaction_hash"].iloc[0]
by_tx = graft.collect("transactions", spark=spark, source_dir=FIX,
                      output_format="pandas", hex=True, txs=[one_hash])
assert len(by_tx) == 1 and by_tx["transaction_hash"].iloc[0] == one_hash
# 15 dry-run: no files, no result
assert graft.freeze("blocks", spark=spark, source_dir=FIX,
                    output_dir="/tmp/should_not_exist_graft",
                    blocks="1000:1060", dry_run=True) is None

# lake read-back: freeze a chunked lake, scan a sub-range back with
# filename pruning; `latest` resolves against the lake head
lake = tempfile.mkdtemp(prefix="graft_pylake")
graft.freeze("blocks", spark=spark, source_dir=FIX, output_dir=lake,
             blocks="1000:1060", chunk_size=10, no_verbose=True)
back = graft.read_lake("blocks", lake, spark=spark, blocks="1015:1045",
                       output_format="pandas")
assert len(back) == 30 and back["block_number"].min() == 1015, len(back)
# `latest` = lake head (1059); an explicit latest end INCLUDES the head
# block, exactly like the omitted-end form (cryo blocks.rs:309 only
# end-excludes numeric ends)
head = graft.read_lake("blocks", lake, spark=spark, blocks="1050:latest",
                       output_format="pandas")
assert len(head) == 10 and head["block_number"].max() == 1059, len(head)
# compact the 6×10-block files to 2×30; reads are unchanged
graft.compact_lake(lake, 30, spark=spark)
assert len(glob.glob(lake + "/*.parquet")) == 2
back2 = graft.read_lake("blocks", lake, spark=spark, blocks="1015:1045",
                        output_format="pandas")
assert sorted(back2["block_number"]) == sorted(back["block_number"])

print("PYSMOKE OK (flag parity: 15 flags byte-identical across surfaces)")
spark.stop()

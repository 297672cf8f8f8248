package graft

import java.nio.file.{Files, Paths}

import graft.chain.{BlockSyntax, Bronze, Freeze}
import graft.chain.BlockSyntax.{Numbers, Range}
import graft.sources.RpcCodec
import graft.streaming.FollowMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's block-syntax parsing tests
  * (cryo cli/parse/blocks.rs:394-717 coverage classes). */
class BlockSyntaxSpec extends AnyFunSuite {
  private val latest = 18000000L

  test("plain numbers, separators, magnitude suffixes") {
    assert(BlockSyntax.parseNumber("123", latest) == 123)
    assert(BlockSyntax.parseNumber("1_000", latest) == 1000)
    assert(BlockSyntax.parseNumber("5K", latest) == 5000)
    assert(BlockSyntax.parseNumber("15.5M", latest) == 15500000)
    assert(BlockSyntax.parseNumber("1B", latest) == 1000000000)
    assert(BlockSyntax.parseNumber("latest", latest) == latest)
    intercept[IllegalArgumentException] { BlockSyntax.parseNumber("1.5K1", latest) }
  }

  test("ranges: a:b, open ends, a:+n, -n:b") {
    assert(BlockSyntax.parse("10:20", latest) == Range(10, 20))
    assert(BlockSyntax.parse(":100", latest) == Range(0, 100))
    assert(BlockSyntax.parse("17M:", latest) == Range(17000000, latest + 1))
    assert(BlockSyntax.parse("100:+50", latest) == Range(100, 150))
    assert(BlockSyntax.parse("-50:1000", latest) == Range(951, 1001))
    // an explicit latest end INCLUDES the head block, same as the
    // omitted-end form (blocks.rs:309 only end-excludes numeric ends) —
    // `a:latest` previously dropped the newest block silently
    assert(BlockSyntax.parse("17M:latest", latest) ==
      BlockSyntax.parse("17M:", latest))
    assert(BlockSyntax.parse("-50:latest", latest) == Range(latest - 49, latest + 1))
  }

  test("sampling a:b/n and striding a:b:k") {
    val Numbers(sampled) = BlockSyntax.parse("0:100/5", latest): @unchecked
    assert(sampled.size == 5 && sampled.head == 0 && sampled.last == 99)
    val Numbers(strided) = BlockSyntax.parse("0:100:25", latest): @unchecked
    assert(strided == Seq(0L, 25L, 50L, 75L))
  }

  test("subchunking with and without alignment") {
    assert(BlockSyntax.subchunk(Range(0, 2500), 1000) ==
      Seq(Range(0, 1000), Range(1000, 2000), Range(2000, 2500)))
    // align snaps to multiples and drops partial edges (number_chunk.rs:76-89)
    assert(BlockSyntax.subchunk(Range(450, 2600), 1000, align = true) ==
      Seq(Range(1000, 2000)))
    assert(BlockSyntax.subchunkByCount(Range(0, 10), 3) ==
      Seq(Range(0, 4), Range(4, 8), Range(8, 10)))
  }

  test("reorg buffer clamps the end") {
    assert(BlockSyntax.applyReorgBuffer(Range(0, 1000), latest = 900, buffer = 100) ==
      Some(Range(0, 801)))
    assert(BlockSyntax.applyReorgBuffer(Range(850, 1000), latest = 900, buffer = 100).isEmpty)
  }
}

class FreezeSpec extends AnyFunSuite {
  import SparkTestSession._
  private val fixDir = graft.queries.ChainQueries.FixDir

  test("freeze writes named chunk files, skips on rerun, overwrites on demand") {
    val out = Files.createTempDirectory("graft_freeze").toString
    val spec = Freeze.FreezeSpec(
      datasets = Seq("blocks", "logs"),
      blocks = Range(1000, 1060),
      chunkSize = 25,
      outputDir = out)
    val r1 = Freeze.freeze(spark, fixDir, spec)
    assert(r1.completed.size == 6 && r1.skipped.isEmpty) // 3 chunks × 2 datasets
    assert(Files.exists(Paths.get(out, "ethereum__blocks__00001000_to_00001024.parquet")))
    assert(Files.exists(Paths.get(out, "ethereum__logs__00001050_to_00001059.parquet")))
    // chunk files are readable and block-partitioned
    val chunk = spark.read.parquet(s"$out/ethereum__blocks__00001025_to_00001049.parquet")
    val bns = chunk.select("block_number").collect().map(_.getInt(0))
    assert(bns.nonEmpty && bns.forall(n => n >= 1025 && n <= 1049))
    // idempotent rerun: everything skipped (freeze.rs:92-110)
    val r2 = Freeze.freeze(spark, fixDir, spec)
    assert(r2.completed.isEmpty && r2.skipped.size == 6)
    // overwrite forces rewrite
    val r3 = Freeze.freeze(spark, fixDir, spec.copy(overwrite = true))
    assert(r3.completed.size == 6)
    // labeled run uses the label in names
    val r4 = Freeze.freeze(spark, fixDir,
      spec.copy(label = Some("test"), nChunks = Some(2)))
    assert(r4.completed.exists(_.contains("__test__")))
  }

  test("csv format forces hex encoding of binary columns") {
    val out = Files.createTempDirectory("graft_hex").toString
    Freeze.freeze(spark, fixDir, Freeze.FreezeSpec(
      datasets = Seq("blocks"), blocks = Range(1000, 1010),
      chunkSize = 10, outputDir = out, format = "csv"))
    val f = Paths.get(out, "ethereum__blocks__00001000_to_00001009.csv")
    assert(Files.exists(f))
    val lines = Files.readAllLines(f)
    assert(lines.get(0).contains("block_hash"))
    assert(lines.get(1).matches(".*\\b0x[0-9a-f]{64}\\b.*"), lines.get(1))
  }

  test("multi-dataset collect shares one persisted bronze scan") {
    val multi = Freeze.collectMulti(Bronze.dir(spark, fixDir), "state_reads")
    try {
      assert(multi.tables.keySet ==
        Set("balance_reads", "code_reads", "nonce_reads", "storage_reads"))
      multi.tables.values.foreach(df => assert(df.columns.contains("address")))
      assert(multi.tables("balance_reads").count() > 0)
      assert(multi.tables("storage_reads").count() > 0)
      // the shared bronze table is cached → member plans reuse it
      val cached = spark.sharedState.cacheManager
      assert(!cached.isEmpty, "bronze scan should be persisted")
    } finally multi.release()
  }

  test("partition-by dim splits chunk files per value with hex-prefix stubs") {
    val out = Files.createTempDirectory("graft_pby").toString
    val r = Freeze.freeze(spark, fixDir, Freeze.FreezeSpec(
      datasets = Seq("erc20_transfers"), blocks = Range(1000, 1060),
      chunkSize = 60, outputDir = out, partitionBy = Some("erc20")))
    assert(r.completed.size >= 2) // several token contracts
    val names = r.completed.map(p => Paths.get(p).getFileName.toString)
    assert(names.forall(_.matches("ethereum__erc20_transfers__[0-9a-f]{8}__00001000_to_00001059\\.parquet")))
    // each file holds exactly one contract
    names.foreach { n =>
      val contracts = spark.read.parquet(s"$out/$n")
        .select("erc20").distinct().count()
      assert(contracts == 1)
    }
  }

  test("a failing chunk lands in errored, other work continues") {
    val out = Files.createTempDirectory("graft_err").toString
    val boom: Freeze.DatasetBuilder = _ => throw new RuntimeException("boom")
    val r = Freeze.freeze(_ => Bronze.dir(spark, fixDir), Freeze.FreezeSpec(
      datasets = Seq("blocks", "logs"), blocks = Range(1000, 1040),
      chunkSize = 20, outputDir = out),
      overrides = Map("logs" -> boom))
    assert(r.completed.size == 2 && r.errored.size == 2) // blocks ok, logs boom
    assert(r.errored.forall(_.contains("__logs__")))
    val dir = Paths.get(out, ".graft", "reports")
    val body = Files.readString(Files.list(dir).toArray.head.asInstanceOf[java.nio.file.Path])
    assert(body.contains("errored_paths") && body.contains("__logs__"))
  }

  test("every chunk file is sorted by its dataset's keys, however bronze is partitioned") {
    val out = Files.createTempDirectory("graft_sorted").toString
    // each bronze table round-robin over 4 partitions: no partition
    // holds a contiguous block range, so a file is sorted only if the
    // write sorts it whole
    val fixtures = Bronze.dir(spark, fixDir)
    val r = Freeze.freeze(_ => Bronze.persisted(Seq("rpc_traces", "rpc_logs")
        .map(t => t -> fixtures(t).repartition(4)).toMap),
      Freeze.FreezeSpec(datasets = Seq("traces", "logs"), blocks = Range(1000, 1060),
        chunkSize = 20, outputDir = out))
    assert(r.errored.isEmpty && r.completed.size == 6)
    for (path <- r.completed) {
      val ds = graft.chain.Datatypes(if (path.contains("__traces__")) "traces" else "logs")
      val keys = graft.chain.TableSchema.defaultSort(ds).map(col)
      val file = spark.read.parquet(path).select(keys: _*)
      val rows = file.collect().toSeq
      assert(rows.size > 1, path)
      assert(rows == file.orderBy(keys: _*).collect().toSeq, s"$path is not sorted by $keys")
    }
  }

  test("a chunk with no rows still gets a schema-only file") {
    val out = Files.createTempDirectory("graft_empty").toString
    // a block list whose middle chunks hold no listed block
    val r = Freeze.freeze(spark, fixDir, Freeze.FreezeSpec(datasets = Seq("blocks"),
      blocks = Numbers(Seq(1000L, 1045L)), chunkSize = 10, outputDir = out))
    assert(r.errored.isEmpty && r.completed.size == 5 && r.rows == 2)
    val columns = spark.read.parquet(r.completed.head).columns.toSeq
    assert(r.completed.map(p => spark.read.parquet(p).count()) == Seq(1, 0, 0, 0, 1))
    assert(r.completed.forall(p => spark.read.parquet(p).columns.toSeq == columns))
  }

  test("chunk collection order: normal, reverse, random (seeded)") {
    def stubs(order: String, seed: Long = 0): Seq[String] = {
      val out = Files.createTempDirectory(s"graft_ord_$order").toString
      val r = Freeze.freeze(spark, fixDir, Freeze.FreezeSpec(
        datasets = Seq("blocks"), blocks = Range(1000, 1060),
        chunkSize = 20, outputDir = out,
        chunkOrder = order, chunkOrderSeed = seed))
      r.completed.map(p => p.substring(p.indexOf("__000") + 2))
    }
    val normal = stubs("normal")
    assert(normal == normal.sorted)
    assert(stubs("reverse") == normal.reverse)
    val rand = stubs("random", seed = 7)
    assert(rand.toSet == normal.toSet)
    assert(stubs("random", seed = 7) == rand) // seeded → reproducible
    intercept[IllegalArgumentException] {
      stubs("sideways")
    }
  }

  test("run report: final report written, incomplete marker removed") {
    val out = Files.createTempDirectory("graft_report").toString
    val command = "graft freeze blocks -b 1000:1020 --js-tracer " +
      "\"{\n\tresult: function() { return \\\"ok\\\"; }\n}\""
    Freeze.freeze(spark, fixDir, Freeze.FreezeSpec(
      datasets = Seq("blocks"), blocks = Range(1000, 1020),
      chunkSize = 20, outputDir = out,
      cliCommand = Some(command)))
    val dir = Paths.get(out, ".graft", "reports")
    val reports = Files.list(dir).toArray.map(_.toString).toSeq
    assert(reports.size == 1, reports)
    assert(!reports.head.contains("incomplete_"))
    val body = Files.readString(Paths.get(reports.head))
    assert(body.contains("\"graft_version\""))
    assert(body.contains("graft freeze blocks -b 1000:1020"))
    assert(body.contains("\"completed_paths\""))
    assert(body.contains("\"n_skipped\":0"))
    // a JS tracer carries newlines and tabs: the report stays valid JSON
    // (raw control characters inside a string are not) and round-trips
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.parse(body)
    assert(json \ "cli_command" == JString(command))
    assert(json \ "results" \ "n_skipped" == JInt(0))
  }

  test("collect returns one in-memory DataFrame filtered to blocks") {
    val df = Freeze.collect(Bronze.dir(spark, fixDir), "txs", Range(1010, 1020))
    assert(df.columns.contains("gas_price"))
    val bns = df.select("block_number").distinct().collect().map(_.getInt(0))
    assert(bns.forall(n => n >= 1010 && n < 1020))
  }

  test("collect honors column/u256/hex options like the CLI") {
    import graft.functions.U256
    val df = Freeze.collect(Bronze.dir(spark, fixDir), "erc20_transfers", Range(1000, 1060),
      u256Reprs = Seq(U256.Str), hex = true)
    assert(df.columns.contains("value_string") && !df.columns.contains("value_binary"))
    // hex projection: binary columns became 0x strings
    val erc = df.select("erc20").limit(1).collect()(0).getString(0)
    assert(erc.startsWith("0x") && erc.length == 42)
    val cols = Freeze.collect(Bronze.dir(spark, fixDir), "blocks", Range(1000, 1010),
      columns = Some(Seq("block_number", "gas_used"))).columns.toSeq
    assert(cols == Seq("block_number", "gas_used"))
    // every dataset reads the column options, not only blocks, txs and logs
    val contracts = Freeze.collect(Bronze.dir(spark, fixDir), "contracts", Range(1000, 1060),
      exclude = Seq("init_code", "code")).columns.toSeq
    assert(contracts == graft.chain.Datatypes.contracts.columnNames
      .filterNot(Seq("init_code", "code").contains), contracts)
  }

  test("network name resolves from chain id with fallback") {
    assert(Freeze.networkName(1) == "ethereum")
    assert(Freeze.networkName(137) == "polygon")
    assert(Freeze.networkName(424242) == "network_424242")
  }
}

/** Port of the reference's timestamp-resolution tests
  * (cryo cli/parse/timestamps.rs:324-515 boundary classes). Fixture
  * blocks have timestamp = 1700000000 + 12·n for n in [1000, 1060). */
class TimestampSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.chain.TimestampSyntax
  private def blocks = Bronze.dir(
    spark, graft.queries.ChainQueries.FixDir)("rpc_blocks")
  private val t0 = 1700000000L

  test("duration units and now-relative parsing") {
    assert(TimestampSyntax.parseDuration("90s") == 90)
    assert(TimestampSyntax.parseDuration("2m") == 120)
    assert(TimestampSyntax.parseDuration("1h") == 3600)
    assert(TimestampSyntax.parseDuration("1d") == 86400)
    assert(TimestampSyntax.parseTimestamp("-1h", now = 10000000) == 10000000 - 3600)
    assert(TimestampSyntax.parseTimestamp("1700012000", 0) == 1700012000L)
  }

  test("binary search with ≤-semantics: exact, between-blocks, before, after") {
    val r = TimestampSyntax.resolverFor(blocks)
    assert(r.blockAtOrBefore(t0 + 12 * 1000) == Some(1000))      // exact first
    assert(r.blockAtOrBefore(t0 + 12 * 1030) == Some(1030))      // exact mid
    assert(r.blockAtOrBefore(t0 + 12 * 1030 + 5) == Some(1030))  // between → floor
    assert(r.blockAtOrBefore(t0 + 12 * 1000 - 1).isEmpty)        // before chain
    assert(r.blockAtOrBefore(t0 + 12 * 2000) == Some(1059))      // after head → last
  }

  test("binary search stays exact over a blocks source with coverage gaps") {
    import org.apache.spark.sql.functions.col
    // simulate a lake with blocks 1000..1019 and 1040..1059 frozen but
    // the 1020s gap missing (exactly what Lake.audit reports as a gap):
    // a timestamp inside the high chunk must resolve into it, not
    // converge into the low chunk because a probe at a missing block
    // "looked late"; a timestamp inside the GAP floors to the last
    // low-chunk block
    val gappy = blocks.filter(col("block_number") < 1020 ||
      col("block_number") >= 1040)
    val r = TimestampSyntax.resolverFor(gappy)
    assert(r.blockAtOrBefore(t0 + 12 * 1050) == Some(1050)) // high chunk
    assert(r.blockAtOrBefore(t0 + 12 * 1030) == Some(1019)) // in the gap
    assert(r.blockAtOrBefore(t0 + 12 * 1000 - 1).isEmpty)   // before chain
    assert(r.blockAtOrBefore(t0 + 12 * 2000) == Some(1059)) // after head
  }

  test("open-ended timestamp ranges: '-<d>:' and ':<t>' resolve") {
    // scaladoc grammar: `-1d:` = from now-1d to the head; `:t` = chain
    // start through t (split must keep trailing empty tokens)
    val now = t0 + 12 * 1059
    val tail = TimestampSyntax.resolveRange(s"-${12 * 9}s:", blocks, now)
    assert(tail == graft.chain.BlockSyntax.Range(1050, 1060))
    val head = TimestampSyntax.resolveRange(s":${t0 + 12 * 1005}", blocks, now)
    assert(head == graft.chain.BlockSyntax.Range(0, 1006))
  }

  test("timestamp range resolves to a block range") {
    val range = TimestampSyntax.resolveRange(
      s"${t0 + 12 * 1005}:${t0 + 12 * 1010 + 3}", blocks, now = 0)
    assert(range == graft.chain.BlockSyntax.Range(1005, 1011))
  }

  test("collect by transaction hashes") {
    val hashes = Bronze.dir(
      spark, graft.queries.ChainQueries.FixDir)("rpc_transactions")
      .select("transaction_hash").limit(3).collect()
      .map(_.getAs[Array[Byte]](0)).toSeq
    val df = graft.chain.Freeze.collectByTransaction(
      Bronze.dir(spark, graft.queries.ChainQueries.FixDir), "txs", hashes)
    assert(df.count() == 3)
    intercept[IllegalArgumentException] {
      graft.chain.Freeze.collectByTransaction(
        Bronze.dir(spark, graft.queries.ChainQueries.FixDir), "balances", hashes)
    }
  }
}

/** Flag-by-flag coverage of the CLI surface (cryo cli/args.rs:20-267):
  * each case drives graft.Cli.run end-to-end over the fixtures and
  * inspects the written files. */
class CliSpec extends AnyFunSuite {
  import SparkTestSession._
  private val fixDir = graft.queries.ChainQueries.FixDir
  private def hx(b: Array[Byte]) = "0x" + b.map("%02x".format(_)).mkString

  private def runCli(extra: String*): (String, Seq[String]) = {
    val out = Files.createTempDirectory("graft_cli").toString
    val base = Array("--source-dir", fixDir, "--output-dir", out,
      "--chunk-size", "60", "--blocks", "1000:1060")
    val r = Cli.run(base ++ extra, spark)
    (out, r.map(_.completed).getOrElse(Nil))
  }

  test("--contract filters erc20_transfers to one token") {
    val t0 = graft.chain.GenFixtures.token(0)
    val (out, done) = runCli("erc20_transfers", "--contract", hx(t0))
    assert(done.size == 1)
    val df = spark.read.parquet(done.head)
    assert(df.count() > 0)
    val ercs = df.select("erc20").distinct().collect().map(_.getAs[Array[Byte]](0))
    assert(ercs.length == 1 && ercs.head.toSeq == t0.toSeq)
    assert(out.nonEmpty)
  }

  test("--address + --topic0 filter logs server-side-style") {
    val sig = graft.chain.GenFixtures.sigTransfer
    val t0 = graft.chain.GenFixtures.token(0)
    val (_, done) = runCli("logs", "--address", hx(t0), "--topic0", hx(sig))
    val df = spark.read.parquet(done.head)
    assert(df.count() > 0)
    assert(df.select("address").distinct().count() == 1)
    assert(df.select("topic0").distinct().count() == 1)
  }

  test("multi-value --contract + --partition-by writes one file per value") {
    val t0 = graft.chain.GenFixtures.token(0)
    val t1 = graft.chain.GenFixtures.token(1)
    val (_, done) = runCli("erc20_transfers", "--contract", hx(t0), hx(t1),
      "--partition-by", "erc20")
    // 1 block chunk × 2 user-supplied values — no data-driven discovery
    assert(done.size == 2)
    val seen = done.map { p =>
      val df = spark.read.parquet(p)
      val ercs = df.select("erc20").distinct().collect()
        .map(_.getAs[Array[Byte]](0).toSeq)
      assert(df.count() > 0 && ercs.length == 1)
      ercs.head
    }.toSet
    assert(seen == Set(t0.toSeq, t1.toSeq))
  }

  test("--function + --inputs compose the eth_calls calldata filter") {
    import org.apache.spark.sql.functions.{col, octet_length}
    val calls = spark.read.parquet(s"$fixDir/rpc_calls.parquet")
    val cd = calls.filter(octet_length(col("call_data")) === 36)
      .select("call_data").head.getAs[Array[Byte]](0)
    val sel = hx(cd.take(4))
    val inp = cd.drop(4).map("%02x".format(_)).mkString
    val (_, done) = runCli("eth_calls", "--function", sel, "--inputs", "0x" + inp)
    val df = spark.read.parquet(done.head)
    assert(df.count() > 0)
    val cds = df.select("call_data").distinct().collect()
      .map(_.getAs[Array[Byte]](0).toSeq)
    assert(cds.length == 1 && cds.head == cd.toSeq)
  }

  test("--inputs without --function errors; partition discovery is capped") {
    intercept[IllegalArgumentException] {
      runCli("eth_calls", "--inputs", "0xdeadbeef")
    }
    val out = Files.createTempDirectory("graft_cap").toString
    val e = intercept[IllegalArgumentException] {
      Freeze.freeze(spark, fixDir, Freeze.FreezeSpec(
        datasets = Seq("transactions"), blocks = Range(1000, 1060),
        chunkSize = 60, outputDir = out,
        partitionBy = Some("transaction_hash"), maxDiscoveredPartitions = 10))
    }
    assert(e.getMessage.contains("partitions discovered"))
  }

  test("--columns picks an explicit projection; unknown column errors") {
    val (_, done) = runCli("blocks", "--columns", "block_number", "gas_used")
    val df = spark.read.parquet(done.head)
    assert(df.columns.toSeq == Seq("block_number", "gas_used"))
    intercept[IllegalArgumentException] {
      runCli("blocks", "--columns", "no_such_column")
    }
  }

  test("--columns without block_number: refused for chunk files, kept for collect") {
    val e = intercept[IllegalArgumentException](runCli("blocks", "--columns", "gas_used"))
    assert(e.getMessage.contains("needs block_number"), e.getMessage)
    val df = Cli.collectDf(Array("blocks", "--source-dir", fixDir,
      "--blocks", "1000:1010", "--columns", "gas_used"), spark)
    assert(df.columns.toSeq == Seq("gas_used") && df.count() == 10)
  }

  test("--include-columns / --exclude-columns adjust the default set") {
    val (_, d1) = runCli("blocks", "--include-columns", "mix_hash")
    assert(spark.read.parquet(d1.head).columns.contains("mix_hash"))
    val (_, d2) = runCli("blocks", "--exclude-columns", "extra_data")
    assert(!spark.read.parquet(d2.head).columns.contains("extra_data"))
  }

  test("--include-columns / --columns select geth_opcodes' capture columns") {
    val (_, d1) = runCli("geth_opcodes", "--include-columns", "memory")
    val ops = spark.read.parquet(d1.head)
    assert(ops.columns.contains("memory") && !ops.columns.contains("stack"))
    assert(ops.filter("memory IS NOT NULL").count() > 0)
    val (_, d2) = runCli("geth_opcodes", "--columns", "all")
    val all = spark.read.parquet(d2.head).columns
    assert(Seq("memory", "stack", "storage").forall(all.contains), all.toSeq)
  }

  test("--u256-types controls value representations") {
    val (_, done) = runCli("erc20_transfers", "--u256-types", "string", "f64")
    val cols = spark.read.parquet(done.head).columns.toSeq
    assert(cols.contains("value_string") && cols.contains("value_f64"))
    assert(!cols.contains("value_binary"))
  }

  test("--sort orders rows within the output file") {
    val (_, done) = runCli("blocks", "--sort", "gas_used")
    val gas = spark.read.parquet(done.head)
      .collect().map(_.getAs[Long]("gas_used"))
    assert(gas.sameElements(gas.sorted))
  }

  test("--txs collects by transaction hash into one file") {
    val hashes = Bronze.dir(spark, fixDir)("rpc_transactions")
      .select("transaction_hash").limit(2).collect()
      .map(r => hx(r.getAs[Array[Byte]](0)))
    val out = Files.createTempDirectory("graft_cli").toString
    val r = Cli.run(Array("--source-dir", fixDir, "--output-dir", out,
      "--chunk-size", "60", "--blocks", "1000:1060",
      "txs", "--txs", hashes(0), hashes(1)), spark).get
    assert(r.completed.size == 1 && r.completed.head.contains("__txs_"))
    assert(spark.read.parquet(r.completed.head).count() == 2)
    assert(r.rows == 2)
  }

  test("binary-list flags accept parquet column references") {
    // freeze a logs extraction once, then use ITS transaction_hash
    // column as the --txs input and its address column (explicit
    // :column syntax) as a --contract filter — the reference's
    // parse_binary_arg re-collection loop
    val (_, logsFiles) = runCli("logs")
    val logsPath = logsFiles.head
    val nHashes = spark.read.parquet(logsPath)
      .select("transaction_hash").distinct().count()
    val (_, byTx) = runCli("txs", "--txs", logsPath)
    assert(byTx.size == 1)
    val collected = spark.read.parquet(byTx.head)
    assert(collected.count() == nHashes)

    val (_, filtered) = runCli("erc20_transfers",
      "--contract", s"$logsPath:address")
    val ercs = spark.read.parquet(filtered.head)
      .select("erc20").distinct().count()
    assert(ercs >= 1) // every token that ever logged is in the ref list
  }

  test("parquet refs drop nulls and fail loudly on a missing file") {
    // a to_address ref over contract-creation txs holds NULL cells —
    // they are dropped, not NPE'd into (a null is never a list value)
    val (_, txFiles) = runCli("transactions")
    val txPath = txFiles.head
    val hasNulls = spark.read.parquet(txPath)
      .filter(org.apache.spark.sql.functions.col("to_address").isNull).count()
    assert(hasNulls > 0, "fixture must contain contract creations")
    val (_, byTo) = runCli("transactions", "--to-address", txPath)
    val nonNullTargets = spark.read.parquet(byTo.head)
      .filter(org.apache.spark.sql.functions.col("to_address").isNotNull)
      .count()
    assert(nonNullTargets > 0)
    // a mistyped ref path reports file-not-found, not a downstream
    // "invalid hex: ./typo.parquet" (and never silently becomes a
    // literal value)
    val e = intercept[IllegalArgumentException] {
      runCli("transactions", "--to-address", "./typo.parquet")
    }
    assert(e.getMessage.contains("file not found"))
  }

  test("--timestamps resolves a block range via the fixture timestamps") {
    // fixture blocks: timestamp = 1700000000 + 12n for n in [1000, 1060)
    // (no --blocks here: the two are mutually exclusive, like the lake
    // path — the runCli base would otherwise smuggle one in)
    val t0 = 1700000000L
    val out = Files.createTempDirectory("graft_cli_ts").toString
    val r = Cli.run(Array("blocks", "--source-dir", fixDir,
      "--output-dir", out, "--chunk-size", "60",
      "--timestamps", s"${t0 + 12 * 1005}:${t0 + 12 * 1010}"), spark)
    val done = r.map(_.completed).getOrElse(Nil)
    assert(done.size == 1, done)
    val bns = spark.read.parquet(done.head)
      .select("block_number").collect().map(_.getInt(0))
    assert(bns.min == 1005 && bns.max == 1010)
    // the conflict itself is refused loudly on the write path too
    val e = intercept[IllegalArgumentException] {
      Cli.run(Array("blocks", "--source-dir", fixDir,
        "--output-dir", out, "--blocks", "1000:1010",
        "--timestamps", s"${t0 + 12 * 1005}:${t0 + 12 * 1010}"), spark)
    }
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("cli guards: multi --blocks, topic bounds, entity typos, trailing flags") {
    // multiple --blocks specs union (reference parity) and a dataset
    // name may follow the flag (shape-aware consumption)
    val out = Files.createTempDirectory("graft_cli_mb").toString
    val r = Cli.run(Array("--source-dir", fixDir, "--output-dir", out,
      "--chunk-size", "60", "--blocks", "1000:1005", "1010:1015", "blocks"),
      spark)
    val done = r.map(_.completed).getOrElse(Nil)
    assert(done.size == 1)
    val bns = spark.read.parquet(done.head)
      .select("block_number").collect().map(_.getInt(0)).sorted
    assert(bns.toSeq == ((1000 to 1004) ++ (1010 to 1014)))
    // --topic9 / --topics fall through to unknown-flag, not an index crash
    val eT = intercept[IllegalArgumentException] {
      Cli.run(Array("logs", "--topic9", "0xaa", "--source-dir", fixDir,
        "--output-dir", out), spark)
    }
    assert(eT.getMessage.contains("unknown flag"))
    // an entity flag with no matching column on any requested dataset is
    // an error, not a silent full-table no-op
    val eC = intercept[IllegalArgumentException] {
      Cli.run(Array("transactions", "--contract", "0x" + "11" * 20,
        "--source-dir", fixDir, "--output-dir", out), spark)
    }
    assert(eC.getMessage.contains("--contract does not apply"))
    // a value-taking flag left dangling reports itself
    val eV = intercept[IllegalArgumentException] {
      Cli.run(Array("blocks", "--source-dir"), spark)
    }
    assert(eV.getMessage.contains("--source-dir needs a value"))
  }

  test("cli pipeline subcommand runs any registered query") {
    val out = Files.createTempDirectory("graft_pipe").toString + "/res"
    val df = Cli.runPipeline(Seq("q_doc_dedup_exact", sf, "--out", out), spark)
    val n = df.count()
    assert(n > 0 && spark.read.parquet(out).count() == n)
    // a chain dataset rides the same dispatch
    assert(Cli.runPipeline(Seq("chain_blocks", sf, "--out",
      Files.createTempDirectory("graft_pipe2").toString + "/res"), spark)
      .count() > 0)
    val err = intercept[IllegalArgumentException] {
      Cli.runPipeline(Seq("no_such_query", sf), spark)
    }
    assert(err.getMessage.contains("unknown query"))
    // a flag as the last token is a usage error, not an index crash
    val err2 = intercept[IllegalArgumentException] {
      Cli.runPipeline(Seq("chain_blocks", sf, "--out"), spark)
    }
    assert(err2.getMessage.contains("missing value for --out"))
  }

  test("prep subcommand materializes the audit once and derives the rollup") {
    val out = Files.createTempDirectory("graft_prep").toString
    graft.queries.TextOps.clearAuditCache()
    val before = graft.queries.TextOps.clustersInvocations.get()
    Cli.runPrep(Seq(sf, out), spark)
    // ONE LSH+CC pass serves both outputs (the rollup reads the
    // written audit, it does not re-run the pipeline)
    assert(graft.queries.TextOps.clustersInvocations.get() == before + 1)
    def sortedRows(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.sorted
      df.select(cols.head, cols.tail: _*)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    }
    val audit = spark.read.parquet(s"$out/audit")
    val stats = spark.read.parquet(s"$out/source_stats")
    // all derived outputs row-identical to the independent driver queries
    assert(sortedRows(audit).sameElements(
      sortedRows(SparkEntry.queries("q_doc_corpus_prep")(spark, sf))))
    assert(sortedRows(stats).sameElements(
      sortedRows(SparkEntry.queries("q_doc_source_stats")(spark, sf))))
    assert(sortedRows(spark.read.parquet(s"$out/funnel")).sameElements(
      sortedRows(SparkEntry.queries("q_doc_prep_funnel")(spark, sf))))
    // ...and registry-level sharing held: the three driver queries
    // re-run above all derived from the SAME memoized audit runPrep
    // built — zero CC passes beyond runPrep's one
    assert(graft.queries.TextOps.clustersInvocations.get() == before + 1)
  }

  test("index subcommand: build once, CLI search equals in-query search") {
    val idx = Files.createTempDirectory("graft_cliidx").toString
    Cli.runIndex(Seq("build", sf, idx), spark)
    // ALL artifacts publish through the pointer layout (r11, incl. the
    // tiny centroid/codebook frames) — resolve, don't assume
    for (part <- Seq("centroids", "codebook", "codes"))
      assert(spark.read.parquet(graft.operators.IndexCompact
        .resolvePath(idx, s"$part.parquet")).count() > 0)
    val out = Files.createTempDirectory("graft_cliidx_out").toString + "/res"
    Cli.runIndex(Seq("search", sf, idx, "--out", out), spark)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id", "rk", "adc_q").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .sortBy(t => (t._1, t._3))
    assert(rows(spark.read.parquet(out)).sameElements(
      rows(SparkEntry.queries("q_embed_ivfpq_search")(spark, sf))))
    // malformed invocations fail with the deliberate usage errors
    intercept[IllegalArgumentException](Cli.runIndex(Seq("bogus", sf, idx), spark))
    intercept[IllegalArgumentException](
      Cli.runIndex(Seq("search", sf, idx, "--out"), spark))
  }

  test("index compact: fewer files, search and index-dedup hash-identical") {
    import graft.operators.IndexCompact
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    // --- IVF-PQ index: fragment codes as a streaming ingest would
    // (many small files, same rows), compact, search must not move ---
    val idx = Files.createTempDirectory("graft_cpidx").toString
    Cli.runIndex(Seq("build", sf, idx), spark)
    // fragment the LIVE tree in place (resolve the pointer — the tree
    // is a versioned dir now), emulating a long ingest history
    val codesPath = IndexCompact.resolvePath(idx, "codes.parquet")
    spark.read.parquet(codesPath).write
      .mode("overwrite").parquet(s"$idx/codes_frag")
    spark.read.parquet(s"$idx/codes_frag").repartition(8)
      .write.mode("overwrite").option("maxRecordsPerFile", 100)
      .parquet(codesPath)
    val queries = Tables(spark, sf, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") < 10)
    val before = rows(graft.queries.SimilarityOps
      .searchIvfPqIndex(spark, queries, idx))
    val nBefore = IndexCompact.dataFileCount(idx, "codes.parquet")
    Cli.runIndex(Seq("compact", idx), spark)
    val nAfter = IndexCompact.dataFileCount(idx, "codes.parquet")
    assert(nAfter < nBefore, s"expected fewer files, $nBefore -> $nAfter")
    assert(rows(graft.queries.SimilarityOps
      .searchIvfPqIndex(spark, queries, idx)) == before)
    // compaction is idempotent (second pass reads the pinned schema)
    Cli.runIndex(Seq("compact", idx), spark)
    assert(rows(graft.queries.SimilarityOps
      .searchIvfPqIndex(spark, queries, idx)) == before)
    // --- text dedup index: same contract for bands/fps/sigs ---
    val docs = Tables(spark, sf, "documents")
    val tidx = Files.createTempDirectory("graft_cptidx").toString
    graft.queries.TextOps.saveTextIndex(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0), tidx)
    val bandsPath = IndexCompact.resolvePath(tidx, "bands.parquet")
    spark.read.parquet(bandsPath)
      .write.mode("overwrite").parquet(s"$tidx/bands_frag")
    spark.read.parquet(s"$tidx/bands_frag").repartition(8)
      .write.mode("overwrite").option("maxRecordsPerFile", 40)
      .parquet(bandsPath)
    val shard = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 =!= 0)
    val dBefore = rows(graft.queries.TextOps.dedupAgainstIndex(spark, shard, tidx))
    val bBefore = IndexCompact.dataFileCount(tidx, "bands.parquet")
    Cli.runIndex(Seq("compact", tidx), spark)
    assert(IndexCompact.dataFileCount(tidx, "bands.parquet") < bBefore)
    assert(rows(graft.queries.TextOps.dedupAgainstIndex(spark, shard, tidx)) == dBefore)
    // an empty dir is a usage error, not a silent no-op
    val none = Files.createTempDirectory("graft_cpnone").toString
    intercept[IllegalArgumentException](Cli.runIndex(Seq("compact", none), spark))
  }

  test("compact during ingest: stream side-artifact unions, then folds in") {
    import graft.operators.IndexCompact
    import org.apache.spark.sql.functions.col
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val e = Tables(spark, sf, "embeddings")
    val idx = Files.createTempDirectory("graft_cpstream").toString
    // build on the even half only; compact → directory-partitioned codes
    graft.queries.SimilarityOps.saveIvfPqIndex(
      e.filter(col("vec_id") % 2 === 0 || col("vec_id") < 16), idx)
    Cli.runIndex(Seq("compact", idx), spark)
    val nCompacted = IndexCompact.dataFileCount(idx, "codes.parquet")
    // the odd half arrives on a stream AFTER compaction — the sink
    // targets the FLAT side-artifact (appending flat files into the
    // partitioned root would poison partition discovery)
    val src = Files.createTempDirectory("graft_cpstream_src").toString
    val odds = e.filter(col("vec_id") % 2 === 1 && col("vec_id") >= 16)
    odds.coalesce(1).write.mode("overwrite").parquet(src)
    val stream = graft.streaming.FollowMode.readAppendOnly(spark, src, e.schema)
    val q = graft.queries.SimilarityOps.encodeStream(spark, stream, idx)
      .writeStream.outputMode("append").format("parquet")
      .option("path", IndexCompact.streamPath(idx, "codes.parquet"))
      .option("checkpointLocation",
        Files.createTempDirectory("graft_cpstream_chk").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    // read() unions partitioned main + flat side rows through one schema
    val nUnioned = IndexCompact.read(spark, idx, "codes.parquet").count()
    val nMain = spark.read.parquet(
      IndexCompact.resolvePath(idx, "codes.parquet")).count()
    assert(nUnioned > nMain, "stream rows must be visible to read()")
    val queries = e.filter(col("vec_id") < 10)
    val preFold = rows(graft.queries.SimilarityOps
      .searchIvfPqIndex(spark, queries, idx))
    // a non-fold compact leaves the (possibly active) stream artifact
    // alone — side rows still visible afterwards
    Cli.runIndex(Seq("compact", idx), spark)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      IndexCompact.streamPath(idx, "codes.parquet"))))
    assert(rows(graft.queries.SimilarityOps
      .searchIvfPqIndex(spark, queries, idx)) == preFold)
    // ingest stopped → fold: side artifact merged into the partitioned
    // layout and removed; search results byte-identical
    Cli.runIndex(Seq("compact", idx, "--fold-stream"), spark)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      IndexCompact.streamPath(idx, "codes.parquet"))))
    assert(IndexCompact.read(spark, idx, "codes.parquet").count() == nUnioned)
    assert(rows(graft.queries.SimilarityOps
      .searchIvfPqIndex(spark, queries, idx)) == preFold)
    assert(IndexCompact.dataFileCount(idx, "codes.parquet") <= nCompacted + 16)
  }

  test("pointer publish: ingest + compact + read run CONCURRENTLY on a scheme'd index") {
    // the 100 TB claim behind the pointer-manifest swap: a search can
    // run WHILE the index is being re-published, on a filesystem that
    // offers nothing beyond atomic single-object create. A reader
    // thread hammers IndexCompact.read while the main thread appends
    // ingest files to the side artifact (physically what a parquet-sink
    // micro-batch does) and re-publishes the main tree through pointer
    // flips — the reader must never observe a missing artifact or a
    // shrunken row count (old tree via the grace window, or new tree;
    // never neither). Folding stays in the maintenance window (it
    // retires the side artifact, which an in-flight read may have
    // planned a scan over — same ingest-stopped contract as before).
    import graft.operators.IndexCompact
    import graft.chain.LakeFs
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val e = Tables(spark, sf, "embeddings")
    val idx = "graftfs:" + Files.createTempDirectory("graft_ccr_fs").toString
    graft.queries.SimilarityOps.saveIvfPqIndex(
      e.filter(col("vec_id") % 2 === 0 || col("vec_id") < 16), idx)
    Cli.runIndex(Seq("compact", idx), spark)
    val nBase = IndexCompact.read(spark, idx, "codes.parquet").count()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val nReads = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      try while (!stop.get) {
        val n = IndexCompact.read(spark, idx, "codes.parquet").count()
        assert(n >= nBase, s"concurrent read shrank: $n < $nBase")
        nReads.incrementAndGet()
      } catch { case t: Throwable => bad.set(t) }
    })
    reader.start()
    val side = IndexCompact.streamPath(idx, "codes.parquet")
    try {
      for (_ <- 1 to 3) {
        spark.read.parquet(IndexCompact.resolvePath(idx, "codes.parquet"))
          .limit(10).write.mode("append").parquet(side)
        Cli.runIndex(Seq("compact", idx), spark) // non-fold: side untouched
      }
    } finally {
      stop.set(true)
      reader.join(120000)
    }
    assert(bad.get == null, s"concurrent read failed: ${bad.get}")
    assert(nReads.get > 0, "the reader never completed a read")
    assert(IndexCompact.read(spark, idx, "codes.parquet").count() == nBase + 30)
    // maintenance window (ingest stopped, readers drained): fold the
    // side rows in and verify convergence on the scheme
    Cli.runIndex(Seq("compact", idx, "--fold-stream"), spark)
    assert(IndexCompact.read(spark, idx, "codes.parquet").count() == nBase + 30)
    assert(!LakeFs.exists(side))
  }

  test("publish lease: two CROSS-PROCESS compactors — one wins, loser " +
      "attributable, reads single-counted throughout") {
    // The r10 contract left cross-process concurrent compaction out of
    // contract (two compactors could allocate one version). The r11
    // publish lease closes it: the spec runs two compactors that share
    // NO in-process locks (distinct processTag ⇒ distinct lock-map
    // instances, exactly like two JVMs — only the filesystem-level
    // lease can serialize them) against one artifact on the graftfs:
    // scheme, with a third "process" polling read() the whole time.
    import graft.operators.IndexCompact
    import graft.chain.LakeFs
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val e = Tables(spark, sf, "embeddings")
    val idx = "graftfs:" + Files.createTempDirectory("graft_lease_fs").toString
    graft.queries.SimilarityOps.saveIvfPqIndex(
      e.filter(col("vec_id") % 2 === 0 || col("vec_id") < 16), idx)
    val nBase = IndexCompact.read(spark, idx, "codes.parquet").count()
    val vBase = IndexCompact.currentVersion(idx, "codes.parquet")

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val reader = new Thread(() => {
      IndexCompact.processTag.set("procR")
      try while (!stop.get) {
        val n = IndexCompact.read(spark, idx, "codes.parquet").count()
        assert(n == nBase, s"concurrent read miscounted: $n != $nBase")
      } catch { case t: Throwable => bad.set(t) }
    })
    reader.start()
    try {
      // deterministic collision: "process A" is mid-publish (holds the
      // lease); "process B"'s compact must fail LOUDLY and name A
      var leaseA: String = null
      val tA = new Thread(() => {
        IndexCompact.processTag.set("procA")
        leaseA = IndexCompact.acquirePublishLease(idx, "codes.parquet")
      })
      tA.start(); tA.join(30000)
      assert(leaseA != null, "process A failed to claim the lease")
      val tB = new Thread(() => {
        IndexCompact.processTag.set("procB")
        try IndexCompact.compact(spark, idx)
        catch { case t: Throwable => bad.compareAndSet(null, t) }
      })
      tB.start(); tB.join(60000)
      val loser = bad.getAndSet(null)
      assert(loser != null, "process B's compact succeeded while A held the lease")
      assert(loser.getMessage.contains("publish lease is held by"),
        s"loser's failure not attributable: ${loser.getMessage}")
      assert(loser.getMessage.contains("@"),
        s"loser's failure does not name the holder: ${loser.getMessage}")
      // the losing compactor must not have flipped, GC'd the live tree,
      // or left garbage that breaks reads
      assert(IndexCompact.currentVersion(idx, "codes.parquet") == vBase)
      assert(IndexCompact.read(spark, idx, "codes.parquet").count() == nBase)
      // A releases → B's retry wins and publishes a new version
      val tRel = new Thread(() => {
        IndexCompact.processTag.set("procA")
        IndexCompact.releasePublishLease(idx, "codes.parquet", leaseA)
      })
      tRel.start(); tRel.join(30000)
      val tB2 = new Thread(() => {
        IndexCompact.processTag.set("procB")
        try IndexCompact.compact(spark, idx)
        catch { case t: Throwable => bad.compareAndSet(null, t) }
      })
      tB2.start(); tB2.join(120000)
      assert(bad.get == null, s"retry after release failed: ${bad.get}")
      assert(IndexCompact.currentVersion(idx, "codes.parquet") > vBase)
      // the lease is released on the way out — a third publish from
      // yet another process proceeds without a stale-break
      assert(!LakeFs.exists(s"$idx/codes.parquet.publish_lock"))
    } finally {
      stop.set(true)
      reader.join(120000)
    }
    assert(bad.get == null, s"concurrent read failed: ${bad.get}")
    assert(IndexCompact.read(spark, idx, "codes.parquet").count() == nBase)
  }

  test("compacted-index probe pruning: the codes scan lists ONLY probed centroid dirs") {
    // The pointer-manifest layout's planning-time claim, pinned (r11
    // brief item 5): after compaction the codes artifact is
    // centroid_id-partitioned, and searchIvfPqIndex turns the probe
    // set into a literal partition predicate — the executed plan's
    // codes scan must carry PartitionFilters and open strictly fewer
    // files than the artifact holds, at BOTH the fresh-compacted and
    // the post-fold layout, with results hash-identical to the
    // unpruned pre-compact search.
    import graft.operators.IndexCompact
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val e = Tables(spark, sf, "embeddings")
    val idx = Files.createTempDirectory("graft_prune_idx").toString
    graft.queries.SimilarityOps.saveIvfPqIndex(e, idx)
    // few queries ⇒ few probed cells (≤6 of 16): the prune must be
    // OBSERVABLE as opened < total, which 10 queries' probe coverage
    // could accidentally defeat
    val queries = e.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val want = rows(graft.queries.SimilarityOps
      .searchIvfPqIndex(spark, queries, idx)) // flat layout, unpruned dirs

    def codesScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => codesScans(a.executedPlan)
      case s: QueryStageExec => codesScans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(codesScans) ++
        other.subqueries.flatMap(codesScans)
    }
    def assertPruned(tag: String): Unit = {
      val df = graft.queries.SimilarityOps
        .searchIvfPqIndex(spark, queries, idx)
      assert(rows(df) == want, s"$tag: pruned search changed results")
      val scans = codesScans(df.queryExecution.executedPlan)
        .filter(_.metadata.get("Location").exists(_.contains("codes.parquet")))
      assert(scans.nonEmpty, s"$tag: no codes FileSourceScan found")
      val scan = scans.head
      assert(scan.partitionFilters.exists(_.references.exists(
          _.name == "centroid_id")),
        s"$tag: no centroid_id PartitionFilters on the codes scan " +
          s"(filters: ${scan.partitionFilters})")
      val opened = scan.metrics("numFiles").value
      val total = IndexCompact.dataFileCount(idx, "codes.parquet")
      println(s"[prune/$tag] codes scan opened $opened of $total files")
      assert(opened > 0 && opened < total,
        s"$tag: scan opened $opened of $total files — not pruned")
    }

    Cli.runIndex(Seq("compact", idx), spark)
    assertPruned("fresh-compact")
    // post-fold layout: append stream-side rows, fold, re-assert (the
    // folded rows join the partitioned dirs; pruning must survive)
    val side = IndexCompact.streamPath(idx, "codes.parquet")
    spark.read.parquet(IndexCompact.resolvePath(idx, "codes.parquet"))
      .limit(12).write.mode("append").parquet(side)
    Cli.runIndex(Seq("compact", idx, "--fold-stream"), spark)
    val post = graft.queries.SimilarityOps
      .searchIvfPqIndex(spark, queries, idx)
    post.collect() // folded dup rows change adc sums; only shape is pinned
    val scans = codesScans(post.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("codes.parquet")))
    assert(scans.nonEmpty && scans.head.partitionFilters.exists(
      _.references.exists(_.name == "centroid_id")))
    val opened = scans.head.metrics("numFiles").value
    val total = IndexCompact.dataFileCount(idx, "codes.parquet")
    println(s"[prune/post-fold] codes scan opened $opened of $total files")
    assert(opened > 0 && opened < total)
  }

  test("index REBUILD during search: a polling reader never errors, sees a coherent index") {
    // r11: centroids/codebook now publish through the pointer layout
    // like codes (they were plain dir overwrites — a search reading
    // them mid-rebuild could hit the delete+rewrite window). A reader
    // thread hammers searchIvfPqIndex while the main thread REBUILDS
    // the whole index twice on a scheme'd FS: every read must complete
    // (old or new index, never a torn mix that errors), and the final
    // search equals a fresh-build reference.
    import graft.chain.LakeFs
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val e = Tables(spark, sf, "embeddings")
    val idx = "graftfs:" + Files.createTempDirectory("graft_rebuild_fs").toString
    graft.queries.SimilarityOps.saveIvfPqIndex(e, idx)
    val queries = e.filter(col("vec_id") < 6)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val want = rows(graft.queries.SimilarityOps
      .searchIvfPqIndex(spark, queries, idx))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val nReads = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      try while (!stop.get) {
        val got = rows(graft.queries.SimilarityOps
          .searchIvfPqIndex(spark, queries, idx))
        // rebuilds write the SAME corpus → any coherent index yields
        // the reference result; a torn centroid/codes mix would not
        assert(got == want, "mid-rebuild search diverged")
        nReads.incrementAndGet()
      } catch { case t: Throwable => bad.set(t) }
    })
    reader.start()
    try {
      for (_ <- 1 to 2)
        graft.queries.SimilarityOps.saveIvfPqIndex(e, idx)
    } finally {
      stop.set(true)
      reader.join(120000)
    }
    assert(bad.get == null, s"concurrent search failed: ${bad.get}")
    assert(nReads.get > 0, "the reader never completed a search")
    assert(rows(graft.queries.SimilarityOps
      .searchIvfPqIndex(spark, queries, idx)) == want)
    // the tiny artifacts really are on the pointer layout now
    assert(graft.operators.IndexCompact
      .currentVersion(idx, "centroids.parquet") >= 3)
  }

  test("publish lease: a mid-cycle steal aborts the flip, never double-publishes") {
    // the flip gate: a publisher whose lease is (out-of-contract)
    // stolen between its tree write and its flip must abort loudly
    // WITHOUT creating the pointer — the stolen-from side never
    // shadows the thief's publish. Simulated by overwriting the lease
    // with a foreign owner while the publisher sleeps inside its
    // parquet write (a listener on the scheme'd FS would be overkill:
    // the steal just races the write window, which the barrier makes
    // deterministic by stealing BEFORE release).
    import graft.operators.IndexCompact
    import graft.chain.LakeFs
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val e = Tables(spark, sf, "embeddings")
    val idx = "graftfs:" + Files.createTempDirectory("graft_steal_fs").toString
    graft.queries.SimilarityOps.saveIvfPqIndex(e.filter(col("vec_id") < 64), idx)
    val v0 = IndexCompact.currentVersion(idx, "codes.parquet")
    val lease = s"$idx/codes.parquet.publish_lock"
    val bad = new java.util.concurrent.atomic.AtomicReference[Throwable]
    // the thief thread waits until the publisher holds the lease, then
    // replaces it with a foreign identity
    val stolen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val thief = new Thread(() => {
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (!LakeFs.exists(lease) && System.currentTimeMillis() < deadline)
          Thread.sleep(5)
        LakeFs.writeStringAtomic(lease,
          s"99@other-host ${System.currentTimeMillis()} thief-uid")
        stolen.set(true)
      } catch { case t: Throwable => bad.set(t) }
    })
    thief.start()
    val err = intercept[Throwable] {
      // loop until the steal actually lands inside a cycle: compact is
      // fast enough that the first attempt may finish pre-steal, in
      // which case the NEXT publish must hit the foreign lease
      var n = 0
      while (n < 5) { IndexCompact.compact(spark, idx); n += 1 }
    }
    thief.join(60000)
    assert(bad.get == null, s"thief failed: ${bad.get}")
    assert(stolen.get, "the steal never happened")
    val msg = String.valueOf(err.getMessage)
    assert(msg.contains("lost mid-cycle") || msg.contains("held by"),
      s"failure not attributable to the lease: $msg")
    // whatever the interleaving: the artifact is readable and any
    // version that WAS published is a complete tree (a flip after a
    // steal is the one thing that must not exist — compact would have
    // aborted before it)
    assert(IndexCompact.read(spark, idx, "codes.parquet").count() > 0)
    assert(IndexCompact.currentVersion(idx, "codes.parquet") >= v0)
  }

  test("publish lock: in-process builder and compactor QUEUE, both publish") {
    // the ADVICE r10 window: writeFresh allocated its version and wrote
    // its tree outside any lock, so a concurrent compact could allocate
    // the same version and its destructive recovery could GC the
    // builder's in-flight tree. Same-JVM publishers now queue on the
    // per-artifact publish lock: racing a fresh build against a compact
    // must leave BOTH published (two version bumps), the artifact
    // readable with the BUILDER's rows (the fresh build is the newest
    // content whichever order the lock grants), and no orphan trees.
    import graft.operators.IndexCompact
    val e = Tables(spark, sf, "embeddings")
    val idx = Files.createTempDirectory("graft_pub_queue").toString
    graft.queries.SimilarityOps.saveIvfPqIndex(
      e.filter(col("vec_id") < 200), idx)
    Cli.runIndex(Seq("compact", idx), spark)
    val v0 = IndexCompact.currentVersion(idx, "codes.parquet")
    val bad = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val builder = new Thread(() => {
      try {
        gate.await()
        graft.queries.SimilarityOps.saveIvfPqIndex(e, idx) // full corpus
      } catch { case t: Throwable => bad.compareAndSet(null, t) }
    })
    val compactor = new Thread(() => {
      try {
        gate.await()
        IndexCompact.compact(spark, idx)
      } catch { case t: Throwable => bad.compareAndSet(null, t) }
    })
    builder.start(); compactor.start()
    builder.join(180000); compactor.join(180000)
    assert(bad.get == null, s"concurrent in-process publish failed: ${bad.get}")
    assert(IndexCompact.currentVersion(idx, "codes.parquet") >= v0 + 2,
      "both publishers should have bumped the version")
    // whichever order the lock granted, the artifact reads clean; if
    // the builder won the lock LAST its fresh rows are the live tree
    val n = IndexCompact.read(spark, idx, "codes.parquet").count()
    assert(n > 0)
  }

  test("publish lease: a crashed holder's lease is broken by pid liveness") {
    // a lease whose same-host pid is dead is a crash leftover — the
    // next publisher breaks it (loudly) instead of deadlocking forever
    import graft.operators.IndexCompact
    import graft.chain.LakeFs
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val e = Tables(spark, sf, "embeddings")
    val idx = "graftfs:" + Files.createTempDirectory("graft_lease_dead").toString
    graft.queries.SimilarityOps.saveIvfPqIndex(
      e.filter(col("vec_id") < 64), idx)
    val host = java.net.InetAddress.getLocalHost.getHostName
    // a pid with no live process (scan down from pid_max's neighborhood)
    val deadPid = (4000000L to 4000100L)
      .find(p => !ProcessHandle.of(p).isPresent).get
    LakeFs.writeString(s"$idx/codes.parquet.publish_lock",
      s"$deadPid@$host ${System.currentTimeMillis()} dead-uid")
    val before = IndexCompact.currentVersion(idx, "codes.parquet")
    IndexCompact.compact(spark, idx) // breaks the stale lease, publishes
    assert(IndexCompact.currentVersion(idx, "codes.parquet") > before)
    assert(!LakeFs.exists(s"$idx/codes.parquet.publish_lock"))
  }

  test("atomic whole-index publish: CHANGED-data rebuild during search " +
      "never yields a mixed triple") {
    // The per-artifact layout's documented limit (saveIvfPqIndex
    // scaladoc): three independent pointers can serve new centroids
    // with old codes when the DATA changed between rebuilds — benign
    // for same-corpus, out of contract for changed data. The atomic
    // layout closes it: one pointer names an immutable tree holding
    // the whole triple, so a polling search during two changed-corpus
    // rebuilds must see EXACTLY corpus A's complete answer or corpus
    // B's complete answer — a mixed triple would match neither.
    import graft.queries.SimilarityOps
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val e = Tables(spark, sf, "embeddings")
    val corpusA = e.filter(col("vec_id") < 300)
    val corpusB = e // superset: different codes AND different residuals
    val queries = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    // per-corpus references from throwaway dirs
    val refDir = Files.createTempDirectory("graft_atomic_ref").toString
    SimilarityOps.saveIvfPqIndexAtomic(corpusA, s"$refDir/a")
    SimilarityOps.saveIvfPqIndexAtomic(corpusB, s"$refDir/b")
    val refA = rows(SimilarityOps.searchIvfPqIndexAtomic(spark, queries, s"$refDir/a"))
    val refB = rows(SimilarityOps.searchIvfPqIndexAtomic(spark, queries, s"$refDir/b"))
    assert(refA != refB, "corpora must be distinguishable for this spec")
    // the lived lifecycle: build A, poll searches while rebuilding with
    // CHANGED data twice (B then A again)
    val idx = "graftfs:" + Files.createTempDirectory("graft_atomic_fs").toString
    SimilarityOps.saveIvfPqIndexAtomic(corpusA, idx)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val nReads = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      try while (!stop.get) {
        val got = rows(SimilarityOps.searchIvfPqIndexAtomic(spark, queries, idx))
        assert(got == refA || got == refB,
          "search saw a result matching NEITHER corpus — a mixed triple")
        nReads.incrementAndGet()
      } catch { case t: Throwable => bad.set(t) }
    })
    reader.start()
    try {
      SimilarityOps.saveIvfPqIndexAtomic(corpusB, idx)
      SimilarityOps.saveIvfPqIndexAtomic(corpusA, idx)
    } finally {
      stop.set(true)
      reader.join(120000)
    }
    assert(bad.get == null, s"concurrent changed-data search failed: ${bad.get}")
    assert(nReads.get > 0, "the reader never completed a search")
    assert(rows(SimilarityOps.searchIvfPqIndexAtomic(spark, queries, idx)) == refA)
    assert(graft.operators.IndexCompact.currentVersion(idx, "ivfpq") == 3)
  }

  test("REBUILD (publishTree) × stream-fold compact on ONE artifact: " +
      "lease-serialized, every read coherent, a foreign holder loses loudly") {
    // r13 brief item 5: publishTree (saveIvfPqIndexAtomic's engine) and
    // the per-artifact stream-fold compaction share the lease + GC
    // paths but no spec ran BOTH lifecycles against the SAME artifact
    // concurrently. A changed-data rebuild through publishTree races a
    // foldStream compact on codes.parquet while a reader polls: every
    // read must land on one coherent state — {old main + side,
    // new main + side, new main alone, the folded forms of the first
    // two} — never a torn count, never an error; in-process the two
    // publishers QUEUE on the publish lock (both complete, two version
    // bumps), and a CROSS-process contender (simulated foreign lease
    // holder) must lose LOUDLY with the holder's identity, no flip.
    import graft.operators.IndexCompact
    import graft.chain.LakeFs
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val e = Tables(spark, sf, "embeddings")
    val idx = "graftfs:" + Files.createTempDirectory("graft_rebuild_fold").toString
    graft.queries.SimilarityOps.saveIvfPqIndex(
      e.filter(col("vec_id") < 200), idx)
    Cli.runIndex(Seq("compact", idx), spark)
    val nA = IndexCompact.read(spark, idx, "codes.parquet").count()
    // ingest stopped (the fold contract): S stream-appended rows are
    // parked in the side artifact awaiting the fold
    val side = IndexCompact.streamPath(idx, "codes.parquet")
    spark.read.parquet(IndexCompact.resolvePath(idx, "codes.parquet"))
      .limit(24).write.parquet(side)
    val sRows = 24L
    // the CHANGED-data rebuild's payload, materialized to a stable
    // scratch dir first: its source must not be the live tree, whose
    // pre-race version can age past the one-cycle GC grace while two
    // publishers are flipping
    val main0 = spark.read
      .parquet(IndexCompact.resolvePath(idx, "codes.parquet"))
    val rebuiltSrc = Files.createTempDirectory("graft_rebuilt_src").toString + "/codes"
    main0.unionByName(main0.limit(40)
        .withColumn("vec_id", col("vec_id") + 1000000L))
      .write.parquet(rebuiltSrc)
    val nB = spark.read.parquet(rebuiltSrc).count()
    assert(nB != nA, "rebuild payload must be distinguishable by count")
    // The polling reader scans the MAIN tree (resolvePath), the surface
    // the one-cycle grace window makes legal at ALL times: every read
    // must land on one complete published version — pre-race main,
    // rebuilt, or a folded form — never a torn tree. The side-artifact
    // union (IndexCompact.read) is deliberately NOT polled mid-fold:
    // the fold's side delete carries no grace window by design (class
    // doc: folds run with side-consumers drained; the read-anytime
    // lifecycle is the atomic tree layout), so a side union here would
    // test a documented non-contract and flake on the delete race.
    val legal = Set(nA, nB, nA + sRows, nB + sRows)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val nReads = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      try while (!stop.get) {
        val n = spark.read
          .parquet(IndexCompact.resolvePath(idx, "codes.parquet")).count()
        assert(legal.contains(n),
          s"torn main-tree read: $n not one of the coherent states $legal")
        nReads.incrementAndGet()
      } catch { case t: Throwable => bad.set(t) }
    })
    reader.start()
    val vPre = IndexCompact.currentVersion(idx, "codes.parquet")
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val rebuilder = new Thread(() => {
      try {
        gate.await()
        IndexCompact.publishTree(spark, idx, "codes.parquet")(vdir =>
          spark.read.parquet(rebuiltSrc).write.mode("overwrite").parquet(vdir))
      } catch { case t: Throwable => bad.compareAndSet(null, t) }
    })
    val folder = new Thread(() => {
      try {
        gate.await()
        IndexCompact.compact(spark, idx, foldStream = true)
      } catch { case t: Throwable => bad.compareAndSet(null, t) }
    })
    try {
      rebuilder.start(); folder.start()
      rebuilder.join(180000); folder.join(180000)
    } finally {
      stop.set(true)
      reader.join(120000)
    }
    assert(bad.get == null, s"rebuild × fold interleaving failed: ${bad.get}")
    assert(nReads.get > 0, "the reader never completed a read")
    // both published (the in-process queue contract), the side artifact
    // was folded exactly once, and the final state is one of the two
    // serialization orders — fold-then-rebuild = the rebuilt tree
    // alone, rebuild-then-fold = rebuilt + folded side rows
    assert(IndexCompact.currentVersion(idx, "codes.parquet") >= vPre + 2,
      "both publishers should have bumped the version")
    assert(!LakeFs.exists(side), "the fold must have consumed the side artifact")
    val nFinal = IndexCompact.read(spark, idx, "codes.parquet").count()
    assert(nFinal == nB || nFinal == nB + sRows,
      s"final state $nFinal matches neither serialization order " +
        s"($nB / ${nB + sRows})")
    // cross-process flavor: a live FOREIGN holder on the same lease
    // makes a rebuild lose loudly — holder named, nothing flipped
    val lease = s"$idx/codes.parquet.publish_lock"
    IndexCompact.ttlOverrideMs = None // a fresh remote lease must NOT age out
    LakeFs.writeStringAtomic(lease,
      s"1@far.example.com ${System.currentTimeMillis()} foreignuid0")
    val vHeld = IndexCompact.currentVersion(idx, "codes.parquet")
    val err = intercept[IllegalStateException] {
      IndexCompact.publishTree(spark, idx, "codes.parquet")(vdir =>
        spark.read.parquet(rebuiltSrc).write.mode("overwrite").parquet(vdir))
    }
    assert(err.getMessage.contains("held by"),
      s"loss not attributable to the foreign holder: ${err.getMessage}")
    assert(IndexCompact.currentVersion(idx, "codes.parquet") == vHeld,
      "the loser must not have flipped")
    LakeFs.deleteFile(lease)
    assert(IndexCompact.read(spark, idx, "codes.parquet").count() == nFinal)
  }

  test("publish lease: steal-under-TTL — a remote holder aged out mid-cycle " +
      "aborts at the flip gate, the thief's publish stands single-counted") {
    // The r11 residual, now pinned (r12 brief item 3): a REMOTE
    // publisher (pid liveness can't vouch for a foreign host) whose
    // single write outlasts the TTL is legitimately stolen from by a
    // local claimant. The stolen-from side must abort LOUDLY at its
    // flip gate — never flip over or beside the thief's publish — and
    // the artifact must stay single-counted throughout.
    import graft.operators.IndexCompact
    import graft.chain.LakeFs
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val e = Tables(spark, sf, "embeddings")
    val idx = "graftfs:" + Files.createTempDirectory("graft_ttl_steal").toString
    graft.queries.SimilarityOps.saveIvfPqIndex(
      e.filter(col("vec_id") < 64), idx)
    val vBase = IndexCompact.currentVersion(idx, "codes.parquet")
    try {
      // "process R" on a remote host claims the lease and stalls inside
      // its (simulated) tree write — long enough that the TTL ages it out
      var leaseR: String = null
      val tR = new Thread(() => {
        IndexCompact.processTag.set("procRemote")
        IndexCompact.hostTag.set("far.example.com")
        leaseR = IndexCompact.acquirePublishLease(idx, "codes.parquet")
      })
      tR.start(); tR.join(30000)
      assert(leaseR != null, "remote publisher failed to claim the lease")
      assert(LakeFs.readString(s"$idx/codes.parquet.publish_lock")
        .contains("far.example.com"))
      IndexCompact.ttlOverrideMs = Some(50L)
      Thread.sleep(80)
      // the local compactor finds a remote lease older than the TTL:
      // in-contract stale-break, full publish
      IndexCompact.compact(spark, idx)
      val vThief = IndexCompact.currentVersion(idx, "codes.parquet")
      assert(vThief > vBase, "the thief's publish never happened")
      val nThief = IndexCompact.read(spark, idx, "codes.parquet").count()
      // R wakes at its flip gate: the lease now belongs to nobody (the
      // thief released on the way out) or someone else — either way R
      // no longer owns it and must abort loudly without flipping
      val handleR = new IndexCompact.PublishLease(idx, "codes.parquet", leaseR)
      val err = intercept[IllegalArgumentException] { handleR.assertStillOwner() }
      assert(err.getMessage.contains("lost mid-cycle"),
        s"abort not attributable to the steal: ${err.getMessage}")
      // no double-publish: the version and row count are exactly the
      // thief's, and R's release is a no-op (it never deletes a lease
      // it doesn't own)
      handleR.release()
      assert(IndexCompact.currentVersion(idx, "codes.parquet") == vThief)
      assert(IndexCompact.read(spark, idx, "codes.parquet").count() == nThief)
    } finally IndexCompact.ttlOverrideMs = None
  }

  test("publish lease: the stale-break is CONDITIONAL — a lease re-claimed " +
      "between judge and delete survives") {
    // ADVICE r11 medium: two claimants that both judged one stale lease
    // used to both blind-delete — the slower delete removed the faster
    // winner's FRESH lease and both claimed. The break now re-reads and
    // deletes only if the content still equals what was judged stale.
    import graft.operators.IndexCompact
    import graft.chain.LakeFs
    val dir = Files.createTempDirectory("graft_cond_break").toString
    val p = s"$dir/codes.parquet.publish_lock"
    val host = java.net.InetAddress.getLocalHost.getHostName
    val deadPid = (4000000L to 4000100L)
      .find(pd => !ProcessHandle.of(pd).isPresent).get
    val stale = s"$deadPid@$host 12345 old-uid"
    // the race, made deterministic: between this claimant's staleness
    // judgement and its delete, a faster claimant broke the lease and
    // claimed it — the slower delete must decline
    LakeFs.writeString(p, s"${ProcessHandle.current().pid()}@$host " +
      s"${System.currentTimeMillis()} winner-uid")
    assert(!IndexCompact.breakStaleLease(p, stale),
      "the conditional break deleted a lease that no longer matched")
    assert(LakeFs.readString(p).contains("winner-uid"),
      "the winner's fresh lease was destroyed")
    // and when the judged content IS still in place, the break proceeds
    LakeFs.writeString(p, stale)
    assert(IndexCompact.breakStaleLease(p, stale))
    assert(!LakeFs.exists(p))
  }

  test("pointer flip is fenced by the publish uid: one winner per version, " +
      "loser loud, readers resolve whole trees only") {
    // r12: version trees are publisher-unique (uid-suffixed) and the
    // flip is an exclusive create carrying the uid — two publishers
    // racing one version number can never interleave into a torn tree
    // behind a live pointer. Pinned at the naming layer: winner flips,
    // loser aborts loudly, a marker whose tree never landed defers to
    // the previous resolvable version, and pre-r12 layouts (zero-byte
    // marker + bare tree) keep resolving.
    import graft.operators.IndexCompact
    val dir = Files.createTempDirectory("graft_fence").toString
    val art = "codes.parquet"
    spark.range(3).write.parquet(IndexCompact.versionDir(dir, art, 1, "aaaa1111"))
    IndexCompact.flipPointer(dir, art, 1, "aaaa1111")
    assert(IndexCompact.currentVersion(dir, art) == 1)
    assert(IndexCompact.resolvePath(dir, art).endsWith("-aaaa1111"))
    // the fence: a second publisher racing version 1 aborts loudly and
    // the pointer still names the winner's tree
    spark.range(5).write.parquet(IndexCompact.versionDir(dir, art, 1, "bbbb2222"))
    val err = intercept[IllegalStateException] {
      IndexCompact.flipPointer(dir, art, 1, "bbbb2222")
    }
    assert(err.getMessage.contains("fenced"), err.getMessage)
    assert(IndexCompact.resolvePath(dir, art).endsWith("-aaaa1111"))
    assert(spark.read.parquet(IndexCompact.resolvePath(dir, art)).count() == 3)
    // a marker whose tree is not (yet) resolvable — crash after flip +
    // external tree loss, or content mid-flight on a non-atomic FS —
    // defers to the newest RESOLVABLE version instead of erroring
    IndexCompact.flipPointer(dir, art, 2, "deadbeef") // tree never written
    assert(IndexCompact.currentVersion(dir, art) == 2)
    assert(IndexCompact.resolvePath(dir, art).endsWith("-aaaa1111"),
      "resolve did not fall back to the newest resolvable version")
    // pre-r12 layout compatibility: zero-byte marker + bare version dir
    spark.range(7).write.parquet(IndexCompact.versionDir(dir, art, 3, ""))
    IndexCompact.flipPointer(dir, art, 3, "")
    assert(IndexCompact.resolvePath(dir, art) ==
      IndexCompact.versionDir(dir, art, 3, ""))
    assert(spark.read.parquet(IndexCompact.resolvePath(dir, art)).count() == 7)
  }

  test("index build/search/compact on a non-file:// Hadoop scheme") {
    // the publish protocol runs on the Hadoop FileSystem API and needs
    // only atomic single-object create (pointer markers) — object
    // stores included — prove it by driving the whole lifecycle on a
    // scheme java.nio cannot resolve
    import graft.operators.IndexCompact
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val idx = "graftfs:" + Files.createTempDirectory("graft_cpidx_fs").toString
    Cli.runIndex(Seq("build", sf, idx), spark)
    // fragment the codes like a long ingest, then compact on the scheme
    val frag = s"$idx/codes_frag"
    val codesPath = IndexCompact.resolvePath(idx, "codes.parquet")
    spark.read.parquet(codesPath).write
      .mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(8)
      .write.mode("overwrite").option("maxRecordsPerFile", 100)
      .parquet(codesPath)
    val queries = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") < 10)
    val before = rows(graft.queries.SimilarityOps
      .searchIvfPqIndex(spark, queries, idx))
    val nBefore = IndexCompact.dataFileCount(idx, "codes.parquet")
    Cli.runIndex(Seq("compact", idx), spark)
    assert(IndexCompact.dataFileCount(idx, "codes.parquet") < nBefore)
    assert(rows(graft.queries.SimilarityOps
      .searchIvfPqIndex(spark, queries, idx)) == before)
  }

  test("compact crash windows: pointer survives, orphans GC'd, sidecar precedes flip") {
    import graft.operators.IndexCompact
    import java.nio.file.{Files => JFiles, Paths}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val idx = Files.createTempDirectory("graft_cpcrash").toString
    Cli.runIndex(Seq("build", sf, idx), spark)
    Cli.runIndex(Seq("compact", idx), spark)
    val want = rows(IndexCompact.read(spark, idx, "codes.parquet"))
    assert(IndexCompact.currentVersion(idx, "codes.parquet") >= 2,
      "fresh build publishes v1, compact publishes v2")
    // crash between the tree write and the pointer flip: an orphan
    // version dir with no pointer marker — reads keep resolving the
    // live version; read() LEAVES the orphan (that state is also what
    // an in-flight rewrite looks like, so only the compact path —
    // lock-serialized — may GC it)
    spark.read.parquet(IndexCompact.resolvePath(idx, "codes.parquet"))
      .limit(5).write.parquet(s"$idx/codes.parquet.v99")
    assert(rows(IndexCompact.read(spark, idx, "codes.parquet")) == want)
    assert(JFiles.exists(Paths.get(s"$idx/codes.parquet.v99")))
    Cli.runIndex(Seq("compact", idx), spark) // compact GCs the orphan
    assert(!JFiles.exists(Paths.get(s"$idx/codes.parquet.v99")))
    assert(rows(IndexCompact.read(spark, idx, "codes.parquet")) == want)
    // grace window: the previous version tree survives exactly one
    // compaction cycle (readers that resolved it just before the flip
    // finish), anything older is gone
    val vNow = IndexCompact.currentVersion(idx, "codes.parquet")
    // version trees are publisher-uid-suffixed since r12 — match by
    // parsed version number, not literal name
    def treesAt(v: Int): Seq[String] =
      new java.io.File(idx).list().toSeq.filter(n =>
        n == s"codes.parquet.v$v" || n.startsWith(s"codes.parquet.v$v-"))
    assert(treesAt(vNow - 1).nonEmpty,
      "previous version tree should survive one cycle of grace")
    assert(treesAt(vNow - 2).isEmpty, "older version trees should be GC'd")
    // pre-pointer migration: an r9-era crash parked the live artifact
    // at .compact_old with no pointer markers anywhere — read() must
    // restore it through the legacy path, not fail
    val lidx = Files.createTempDirectory("graft_cpcrash_legacy").toString
    spark.read.parquet(IndexCompact.resolvePath(idx, "codes.parquet"))
      .write.parquet(s"$lidx/codes.parquet.compact_old")
    val nLive = IndexCompact.read(spark, idx, "codes.parquet").count()
    assert(IndexCompact.read(spark, lidx, "codes.parquet").count() == nLive)
    assert(JFiles.exists(Paths.get(s"$lidx/codes.parquet")) &&
      !JFiles.exists(Paths.get(s"$lidx/codes.parquet.compact_old")))
    // the sidecar is already on disk when the flip happens: pin by
    // checking it exists and pins the partitioned artifact's schema
    val sc = s"$idx/codes_schema.json"
    assert(JFiles.exists(Paths.get(sc)))
    val pinned = org.apache.spark.sql.types.DataType
      .fromJson(JFiles.readString(Paths.get(sc)))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(IndexCompact.read(spark, idx, "codes.parquet").schema == pinned)
  }

  test("pre-pointer migration: legacy tree gets one cycle of grace, then retires") {
    import graft.operators.IndexCompact
    import java.nio.file.{Files => JFiles, Paths}
    // fabricate an r9-style artifact: flat parquet at the legacy path,
    // no pointer markers anywhere
    val idx = Files.createTempDirectory("graft_migrate").toString
    val e = Tables(spark, sf, "embeddings")
    e.select(col("vec_id"), (col("vec_id") % 16).as("centroid_id"),
      lit(0).as("sub"), lit(1).as("code"))
      .write.parquet(s"$idx/codes.parquet")
    val n = IndexCompact.read(spark, idx, "codes.parquet").count()
    assert(IndexCompact.currentVersion(idx, "codes.parquet") == 0)
    // first compact = the migration flip: pointer published, but the
    // legacy tree survives ONE cycle (a concurrent reader may be
    // mid-scan over it — the same grace a previous version dir gets)
    Cli.runIndex(Seq("compact", idx), spark)
    assert(IndexCompact.currentVersion(idx, "codes.parquet") == 1)
    assert(JFiles.exists(Paths.get(s"$idx/codes.parquet")))
    assert(IndexCompact.read(spark, idx, "codes.parquet").count() == n)
    // second publish retires it; reads unchanged throughout
    Cli.runIndex(Seq("compact", idx), spark)
    assert(IndexCompact.currentVersion(idx, "codes.parquet") == 2)
    assert(!JFiles.exists(Paths.get(s"$idx/codes.parquet")))
    assert(IndexCompact.read(spark, idx, "codes.parquet").count() == n)
  }

  test("pre-pointer migration: an r9 completed-fold crash state converges") {
    import graft.operators.IndexCompact
    import java.nio.file.{Files => JFiles, Paths}
    // r9 wrote EMPTY fold markers and disambiguated by tmp-dir
    // presence; its completed-fold crash state (marker, no tmp, side
    // still on disk, rows already folded into the flat main) must
    // finish the side delete under this code, or read() double-counts
    val idx = Files.createTempDirectory("graft_migrate_fold").toString
    val e = Tables(spark, sf, "embeddings")
    e.select(col("vec_id"), (col("vec_id") % 16).as("centroid_id"),
      lit(0).as("sub"), lit(1).as("code"))
      .write.parquet(s"$idx/codes.parquet")
    val n = spark.read.parquet(s"$idx/codes.parquet").count()
    val side = IndexCompact.streamPath(idx, "codes.parquet")
    spark.read.parquet(s"$idx/codes.parquet").limit(7).write.parquet(side)
    JFiles.writeString(Paths.get(s"$idx/codes.parquet.fold_pending"), "")
    assert(IndexCompact.read(spark, idx, "codes.parquet").count() == n)
    assert(!JFiles.exists(Paths.get(side)))
    assert(!JFiles.exists(Paths.get(s"$idx/codes.parquet.fold_pending")))
  }

  test("fold crash windows: the side-artifact is never double-counted") {
    import graft.operators.IndexCompact
    import java.nio.file.{Files => JFiles, Paths}
    val idx = Files.createTempDirectory("graft_foldcrash").toString
    Cli.runIndex(Seq("build", sf, idx), spark)
    Cli.runIndex(Seq("compact", idx), spark)
    val nMain = IndexCompact.read(spark, idx, "codes.parquet").count()
    val marker = Paths.get(s"$idx/codes.parquet.fold_pending")
    val side = IndexCompact.streamPath(idx, "codes.parquet")
    val live = IndexCompact.resolvePath(idx, "codes.parquet")
    val cur = IndexCompact.currentVersion(idx, "codes.parquet")
    // crash AFTER the pointer flip, BEFORE the side delete: the marker
    // names the CURRENT version (the folded tree is live, its rows
    // subsume the side artifact) → recover must finish the side
    // delete, or read() would union the folded rows in twice
    spark.read.parquet(live)
      .limit(7).write.parquet(side) // rows "already folded into" main
    JFiles.writeString(marker, s"v$cur")
    assert(IndexCompact.read(spark, idx, "codes.parquet").count() == nMain)
    assert(!JFiles.exists(Paths.get(side)) && !JFiles.exists(marker))
    // crash BEFORE the flip (marker naming a never-published version,
    // orphan folded tree on disk): the side rows exist ONLY in the
    // side artifact → recover must KEEP it. read() also leaves the
    // marker and orphan tree alone — that state is exactly what an
    // IN-FLIGHT fold looks like, so only the compact path
    // (lock-serialized) may drop them; the read still counts the side
    // rows exactly once either way
    spark.read.parquet(live).limit(7).write.parquet(side)
    val nWithSide = nMain + 7
    JFiles.writeString(marker, s"v${cur + 1}")
    spark.read.parquet(live).limit(5)
      .write.parquet(s"$idx/codes.parquet.v${cur + 1}") // unflipped fold tree
    assert(IndexCompact.read(spark, idx, "codes.parquet").count() == nWithSide)
    assert(JFiles.exists(Paths.get(side)) && JFiles.exists(marker))
    assert(JFiles.exists(Paths.get(s"$idx/codes.parquet.v${cur + 1}")))
    // and a fold compact from this recovered state converges: side rows
    // folded exactly once
    Cli.runIndex(Seq("compact", idx, "--fold-stream"), spark)
    assert(IndexCompact.read(spark, idx, "codes.parquet").count() == nWithSide)
    assert(!JFiles.exists(Paths.get(side)))
  }

  test("--blocks accepts a parquet file ref; lists filter within chunks") {
    // a block-list file with duplicates → deduplicated (parse/blocks.rs:79-83)
    val listFile = Files.createTempDirectory("graft_blist").toString + "/blocks.parquet"
    import spark.implicits._
    Seq(1000L, 1005L, 1005L, 1010L, 1042L).toDF("block_number")
      .write.parquet(listFile)
    val out = Files.createTempDirectory("graft_bref").toString
    val r = Cli.run(Array("blocks", "--source-dir", fixDir,
      "--output-dir", out, "--chunk-size", "25",
      "--blocks", listFile), spark).get
    assert(r.completed.size == 2) // [1000,1025) and [1025,1050) chunks
    val bns = r.completed.flatMap(p =>
      spark.read.parquet(p).select("block_number").collect().map(_.getInt(0)))
    assert(bns.sorted == Seq(1000, 1005, 1010, 1042)) // ONLY listed blocks
  }

  test("--blocks parquet ref over the driver cap fails fast") {
    // the list collects to the driver (as in cryo parse/blocks.rs:79-83),
    // so an over-cap ref must error with guidance, not OOM: limit+1
    // disproves the cap without collecting the full column
    val listFile = Files.createTempDirectory("graft_bigref").toString + "/blocks.parquet"
    spark.range(Cli.MaxBlockListSize + 1).toDF("block_number")
      .write.parquet(listFile)
    val out = Files.createTempDirectory("graft_bigref_out").toString
    val e = intercept[IllegalArgumentException] {
      Cli.run(Array("blocks", "--source-dir", fixDir,
        "--output-dir", out, "--blocks", listFile), spark)
    }
    assert(e.getMessage.contains("exceeds"))
    assert(e.getMessage.contains("block range"))
  }

  test("--sort none disables custom sort; multi-dataset custom sort errors") {
    val (_, done) = runCli("blocks", "--sort", "none")
    assert(done.size == 1)
    intercept[IllegalArgumentException] {
      runCli("blocks", "logs", "--sort", "gas_used")
    }
  }

  test("--compression selects the parquet codec") {
    val (_, done) = runCli("blocks", "--compression", "zstd")
    // zstd parquet magic lives in the column metadata; cheap proxy: the
    // file is readable and smaller than the snappy default would allow
    val df = spark.read.parquet(done.head)
    assert(df.count() == 60)
    assert(done.head.endsWith(".parquet"))
  }

  test("--row-group-size / --n-row-groups / --no-stats shape the footer") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    def footer(p: String) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), new Configuration()))
      try r.getFooter.getBlocks
      finally r.close()
    }
    // 60 block rows at 20 rows per group → 3 row groups
    val (_, done) = runCli("blocks", "--row-group-size", "20")
    assert(footer(done.head).size == 3)
    // --n-row-groups derives rows/group from the chunk size: 60/2 = 30
    val (_, done2) = runCli("blocks", "--n-row-groups", "2")
    assert(footer(done2.head).size == 2)
    // --no-stats drops column min/max statistics from every chunk
    val (_, done3) = runCli("blocks", "--no-stats")
    import scala.jdk.CollectionConverters._
    val cols = footer(done3.head).asScala.flatMap(_.getColumns.asScala)
    assert(cols.nonEmpty && cols.forall { c =>
      val s = c.getStatistics
      s == null || s.isEmpty
    })
    val (_, done4) = runCli("blocks")
    val colsWith = footer(done4.head).asScala.flatMap(_.getColumns.asScala)
    assert(colsWith.exists { c =>
      val s = c.getStatistics; s != null && !s.isEmpty
    })
    // default parquet codec matches the reference (lz4 raw, args.rs:191)
    assert(colsWith.map(_.getCodec.name()).toSet == Set("LZ4_RAW"))
  }

  test("collectDf: in-memory collect with the full flag surface") {
    val df = Cli.collectDf(Array("blocks", "--source-dir", fixDir,
      "--blocks", "1000:1010", "--columns", "block_number", "gas_used"), spark)
    assert(df.columns.toSeq == Seq("block_number", "gas_used"))
    assert(df.count() == 10)
    // entity filter + hex re-encoding apply like the CLI
    val t0 = graft.chain.GenFixtures.token(0)
    val logs = Cli.collectDf(Array("logs", "--source-dir", fixDir,
      "--blocks", "1000:1060", "--contract", hx(t0), "--hex"), spark)
    assert(logs.count() > 0)
    assert(logs.schema("address").dataType.typeName == "string") // hexified
    assert(logs.select("address").distinct().count() == 1)
    // exactly one datatype
    intercept[IllegalArgumentException] {
      Cli.collectDf(Array("blocks", "logs", "--source-dir", fixDir), spark)
    }
    // tx-hash time dimension collects in memory too
    val someTx = spark.read.parquet(s"$fixDir/rpc_transactions.parquet")
      .select("transaction_hash").head.getAs[Array[Byte]](0)
    val byTx = Cli.collectDf(Array("transactions", "--source-dir", fixDir,
      "--txs", hx(someTx)), spark)
    assert(byTx.count() == 1)
  }

  test("--remember saves a default command; dataset-less runs replay it") {
    val out = Files.createTempDirectory("graft_rem").toString
    // no datasets, nothing remembered → clear error
    val e = intercept[IllegalArgumentException] {
      Cli.run(Array("--output-dir", out, "--blocks", "1000:1010"), spark)
    }
    assert(e.getMessage.contains("--remember"))
    val r1 = Cli.run(Array("blocks", "--source-dir", fixDir,
      "--output-dir", out, "--chunk-size", "10",
      "--blocks", "1000:1010", "--remember"), spark).get
    assert(r1.completed.size == 1)
    assert(Files.exists(Paths.get(out, ".graft", "remembered_command.json")))
    // replay without datasets; appended flags take precedence
    val r2 = Cli.run(Array("--output-dir", out, "--blocks", "1010:1020"), spark).get
    assert(r2.completed.size == 1)
    assert(r2.completed.head.contains("00001010_to_00001019"))
    // untouched replay skips the already-written chunk (idempotence)
    val r3 = Cli.run(Array("--output-dir", out), spark).get
    assert(r3.skipped.size == 1 && r3.completed.isEmpty)
  }

  test("--exclude-failed drops failed txs and failed trace subtrees") {
    val (_, doneTx) = runCli("transactions", "--exclude-failed")
    val expectTx = graft.chain.ChainDatasets
      .transactions(Bronze.dir(spark, fixDir), excludeFailed = true).count()
    assert(spark.read.parquet(doneTx.head).count() == expectTx)
    val (_, doneTr) = runCli("traces", "--exclude-failed")
    val expectTr = graft.chain.ChainDatasets
      .traces(Bronze.dir(spark, fixDir), excludeFailed = true).count()
    assert(spark.read.parquet(doneTr.head).count() == expectTr)
    assert(expectTx < spark.read.parquet(s"$fixDir/rpc_transactions.parquet").count())
  }

  test("--event-signature decodes logs into event__ columns") {
    val (_, done) = runCli("logs", "--event-signature",
      "Transfer(address indexed from, address indexed to, uint256 value)")
    val df = spark.read.parquet(done.head)
    assert(df.columns.contains("event__from"))
    assert(df.columns.contains("event__value_binary"))
    // topic1-3/data drop after a successful decode (to_df/src/lib.rs:165)
    assert(!df.columns.contains("topic1") && !df.columns.contains("data"))
    assert(df.count() > 0)
  }

  test("a column flag keeps --event-signature's event__ columns") {
    val sig = "Transfer(address indexed from, address indexed to, uint256 value)"
    val (_, d1) = runCli("logs", "--event-signature", sig)
    val (_, d2) = runCli("logs", "--event-signature", sig, "--exclude-columns", "chain_id")
    val all = spark.read.parquet(d1.head).columns.toSeq
    assert(all.count(_.startsWith("event__")) >= 3, all)
    assert(spark.read.parquet(d2.head).columns.toSeq == all.filterNot(_ == "chain_id"))
  }

  test("trace_calls: --contract and --call-data select a call; column flags keep contract_address") {
    import graft.chain.GenFixtures.{addr, pad32, selBalanceOf, token}
    val (_, done) = runCli("trace_calls", "--contract", hx(token(0)),
      "--call-data", hx(selBalanceOf ++ pad32(addr(0))), "--exclude-columns", "error")
    val df = spark.read.parquet(done.head)
    assert(df.count() == 2)
    assert(df.columns.contains("contract_address") && !df.columns.contains("error"))
    val contracts = df.select("contract_address").distinct().collect()
      .map(_.getAs[Array[Byte]](0).toSeq)
    assert(contracts.toSeq == Seq(token(0).toSeq))
  }

  test("--no-report suppresses reports; --report-dir redirects them") {
    val (out, _) = runCli("blocks", "--no-report")
    assert(!Files.exists(Paths.get(out, ".graft", "reports")))
    val rdir = Files.createTempDirectory("graft_reports").toString
    val (out2, _) = runCli("blocks", "--report-dir", rdir)
    assert(!Files.exists(Paths.get(out2, ".graft", "reports")))
    assert(new java.io.File(rdir).list().exists(_.endsWith(".json")))
  }

  test("--subdirs lays files out under datatype/network directories") {
    val (out, done) = runCli("blocks", "logs", "--subdirs", "datatype")
    assert(done.size == 2)
    assert(Files.exists(Paths.get(out, "blocks",
      "ethereum__blocks__00001000_to_00001059.parquet")))
    assert(Files.exists(Paths.get(out, "logs",
      "ethereum__logs__00001000_to_00001059.parquet")))
  }

  test("--partition-by and --chunk-order pass through to freeze") {
    val (_, done) = runCli("erc20_transfers",
      "--partition-by", "erc20", "--chunk-order", "reverse")
    assert(done.size >= 2)
    assert(done.forall(_.matches(".*erc20_transfers__[0-9a-f]{8}__00001000_to_00001059\\.parquet")))
  }
}

class RpcCodecSpec extends AnyFunSuite {
  import graft.sources.RpcExtract

  test("request bodies are well-formed JSON-RPC") {
    assert(RpcCodec.getBlockRequest(7, 255, fullTxs = true) ==
      """{"jsonrpc":"2.0","id":7,"method":"eth_getBlockByNumber","params":["0xff",true]}""")
    val logs = RpcCodec.getLogsRequest(1, 16, 31, Some("0xabc"), Seq(Some("0xddf2")))
    assert(logs.contains(""""fromBlock":"0x10""""))
    assert(logs.contains(""""toBlock":"0x1f""""))
    assert(logs.contains(""""address":"0xabc""""))
    assert(RpcCodec.batch(Seq("{}", "{}")) == "[{},{}]")
  }

  test("extract-phase request builders cover the dataset families") {
    assert(RpcCodec.getBlockReceiptsRequest(1, 16) ==
      """{"jsonrpc":"2.0","id":1,"method":"eth_getBlockReceipts","params":["0x10"]}""")
    assert(RpcCodec.traceBlockRequest(2, 255).contains(""""method":"trace_block","params":["0xff"]"""))
    assert(RpcCodec.ethCallRequest(3, "0xabc", "0x18160ddd", 16) ==
      """{"jsonrpc":"2.0","id":3,"method":"eth_call","params":[{"to":"0xabc","data":"0x18160ddd"},"0x10"]}""")
    assert(RpcCodec.debugTraceBlockRequest(4, 16, Some("prestateTracer"), diffMode = true)
      .contains(""""tracer":"prestateTracer","tracerConfig":{"diffMode":true}"""))
    assert(RpcCodec.debugTraceBlockRequest(5, 16, Some("callTracer"))
      .contains(""""tracer":"callTracer""""))
    assert(RpcCodec.getStorageAtRequest(6, "0xa", "0x1", 16)
      .contains(""""method":"eth_getStorageAt","params":["0xa","0x1","0x10"]"""))
    assert(RpcCodec.getBalanceRequest(7, "0xa", 16).contains("eth_getBalance"))
    assert(RpcCodec.getCodeRequest(8, "0xa", 16).contains("eth_getCode"))
    assert(RpcCodec.getTransactionCountRequest(9, "0xa", 16).contains("eth_getTransactionCount"))
  }

  test("blockTransactions parses a full-tx block into rpc_transactions rows") {
    val body =
      """{"jsonrpc":"2.0","id":1,"result":{"number":"0x10","hash":"0xaa","timestamp":"0x65",
        |"transactions":[
        | {"transactionIndex":"0x0","hash":"0x01","nonce":"0x5","from":"0x1111","to":"0x2222",
        |  "value":"0xde0b6b3a7640000","input":"0x18160ddd","gas":"0x5208",
        |  "gasPrice":"0x2cb417800","type":"0x0","r":"0x0a","s":"0x0b","v":"0x1b"},
        | {"transactionIndex":"0x1","hash":"0x02","nonce":"0x6","from":"0x3333","to":null,
        |  "value":"0x0","input":"0x60806040","gas":"0x7a120",
        |  "maxFeePerGas":"0x3b9aca00","maxPriorityFeePerGas":"0x3b9aca0",
        |  "type":"0x2","r":"0x0c","s":"0x0d","v":"0x0"}
        |]}}""".stripMargin
    val rows = RpcExtract.blockTransactions(body, chainId = 1)
    assert(rows.size == 2)
    val t0 = rows(0)
    assert(t0.getInt(0) == 16 && t0.getInt(1) == 0)
    assert(t0.getAs[Array[Byte]](7).length == 32) // u256-padded
    assert(t0.getAs[java.lang.Long](10) == 12000000000L)
    // 0x1b = 27 = pre-155 legacy encoding of y-parity 0 (alloy
    // Signature::v() normalizes; raw %2 would flip legacy parities)
    assert(!t0.getAs[Boolean](16))
    assert(t0.getInt(17) == 0x65)  // timestamp from the block
    val t1 = rows(1)
    assert(t1.getAs[Array[Byte]](6) == null)
    assert(t1.getInt(13) == 2 && t1.getAs[java.lang.Long](10) == null)
    assert(t1.getAs[java.lang.Long](11) == 1000000000L)
  }

  test("blockReceipts parses eth_getBlockReceipts into rpc_receipts rows") {
    val body =
      """{"result":[{"transactionHash":"0x01","gasUsed":"0x5208","status":"0x1"},
        |           {"transactionHash":"0x02","gasUsed":"0x1","status":"0x0"}]}""".stripMargin
    val rows = RpcExtract.blockReceipts(body)
    assert(rows.map(_.getLong(1)) == Seq(21000L, 1L))
    assert(rows.map(_.getInt(2)) == Seq(1, 0))
  }

  test("traceBlock flattens parity traces with _ addresses and decimal values") {
    val body =
      """{"result":[
        | {"action":{"from":"0x11","to":"0x22","value":"0xde0b6b3a7640000","gas":"0x100",
        |   "input":"0xabcd","callType":"call"},
        |  "result":{"gasUsed":"0x80","output":"0x01"},
        |  "traceAddress":[0,2],"subtraces":1,"type":"call",
        |  "blockNumber":16,"blockHash":"0xaa","transactionPosition":3,"transactionHash":"0x01"},
        | {"action":{"author":"0x33","rewardType":"block","value":"0x1bc16d674ec80000"},
        |  "traceAddress":[],"subtraces":0,"type":"reward","blockNumber":16,"blockHash":"0xaa"},
        | {"action":{"address":"0x44","refundAddress":"0x55","balance":"0x0de0b6b3a7640000"},
        |  "traceAddress":[1],"subtraces":0,"type":"suicide","blockNumber":16,"blockHash":"0xaa",
        |  "transactionPosition":0,"transactionHash":"0x02"},
        | {"action":{"from":"0x66","to":"0x77","value":"0x","gas":"0x0","input":"0x"},
        |  "traceAddress":[2],"subtraces":0,"type":"call","blockNumber":16,"blockHash":"0xaa"}
        |]}""".stripMargin
    val rows = RpcExtract.traceBlock(body, chainId = 1)
    assert(rows.size == 4)
    val call = rows(0)
    assert(call.getString(2) == "1000000000000000000") // decimal string value
    assert(call.getString(13) == "0_2")                // _-joined trace address
    assert(call.getString(8) == "call" && call.getInt(14) == 1)
    assert(call.getAs[java.lang.Integer](18) == 3)
    val reward = rows(1)
    assert(reward.getString(8) == "reward" && reward.getString(13) == "")
    // author → action_from, action_to stays null (traces.rs:186-188)
    assert(reward.getAs[Array[Byte]](0).toSeq == Seq(0x33.toByte))
    assert(reward.getAs[Array[Byte]](1) == null)
    assert(reward.getString(2) == "2000000000000000000")
    // selfdestruct folds {address, refundAddress, balance} into
    // (from, to, value) like the reference (traces.rs:176-179)
    val sd = rows(2)
    assert(sd.getString(8) == "suicide")
    assert(sd.getAs[Array[Byte]](0).toSeq == Seq(0x44.toByte)) // address → from
    assert(sd.getAs[Array[Byte]](1).toSeq == Seq(0x55.toByte)) // refund → to
    assert(sd.getString(2) == "1000000000000000000")           // balance → value
    // bare "0x" quantity (a live client quirk) is zero, not a crash
    assert(rows(3).getString(2) == "0")
  }

  test("ethCallRow pairs request context with the call output") {
    val row = RpcExtract.ethCallRow(16, Array[Byte](0xaa.toByte),
      Array[Byte](0x18, 0x16, 0x0d, 0xdd.toByte),
      """{"result":"0x0000002a"}""", chainId = 1)
    assert(row.getInt(0) == 16)
    assert(row.getAs[Array[Byte]](3).toSeq == Seq[Byte](0, 0, 0, 0x2a))
  }

  test("gethPrestateBlock emits account + storage rows per phase") {
    val body =
      """{"result":[{"txHash":"0x01","result":{
        | "pre":{"0x1111":{"balance":"0x64","nonce":5,
        |                  "storage":{"0x01":"0x0a"}}},
        | "post":{"0x1111":{"balance":"0xc8"},
        |         "0x2222":{"code":"0x6080"}}}}]}""".stripMargin
    val rows = RpcExtract.gethPrestateBlock(body, blockNumber = 16, chainId = 1)
    assert(rows.size == 4) // pre acct + pre slot + 2 post accts
    val preAcct = rows.find(r => r.getString(3) == "pre" && r.get(8) == null).get
    assert(preAcct.getAs[java.lang.Long](6) == 5L)
    assert(preAcct.getAs[Array[Byte]](5).length == 32)
    val slot = rows.find(r => r.get(8) != null).get
    assert(slot.getString(3) == "pre" && slot.getAs[Array[Byte]](9).length == 32)
    val created = rows.find(r => r.getString(3) == "post" &&
      r.getAs[Array[Byte]](7) != null).get
    assert(created.getAs[Array[Byte]](7).toSeq == Seq[Byte](0x60, 0x80.toByte))
  }

  test("gethCallFrames flattens the callTracer tree depth-first") {
    val body =
      """{"result":[{"result":{
        | "type":"CALL","from":"0x11","to":"0x22","value":"0x0","gas":"0x100",
        | "gasUsed":"0x80","input":"0xab",
        | "calls":[{"type":"STATICCALL","from":"0x22","to":"0x33","gas":"0x50",
        |           "gasUsed":"0x20","input":"0xcd","error":"execution reverted"}]}}]}""".stripMargin
    val rows = RpcExtract.gethCallFrames(body, blockNumber = 16, chainId = 1)
    assert(rows.size == 2)
    // type is stored RAW (geth reports uppercase; the reference keeps
    // trace.typ verbatim, geth_calls.rs:88)
    assert(rows(0).getInt(11) == 0 && rows(0).getString(9) == "CALL")
    assert(rows(1).getInt(11) == 1 && rows(1).getString(9) == "STATICCALL")
    assert(rows(1).getString(10) == "execution reverted")
  }

  test("jsTraceBlock: failure shape dropped, payload-bearing outputs kept") {
    // geth's per-tx trace failure is EXACTLY {txHash, error}: dropped,
    // but the slot keeps later txs' positional indexes aligned
    val failed =
      """{"result":[
        | {"txHash":"0xaa","error":"execution timeout"},
        | {"txHash":"0xbb","result":{"n":7}}]}""".stripMargin
    val r1 = RpcExtract.jsTraceBlock(failed, blockNumber = 16, chainId = 1)
    assert(r1.size == 1 && r1(0).getInt(1) == 1)
    // a LEGACY node returns the bare tracer output per tx — a custom
    // tracer that echoes txHash (and even an error field) alongside its
    // payload is OUTPUT, not geth's failure shape, and must survive
    val legacy =
      """{"result":[
        | {"txHash":"0xaa","error":"soft","steps":3},
        | {"count":42}]}""".stripMargin
    val r2 = RpcExtract.jsTraceBlock(legacy, blockNumber = 16, chainId = 1)
    assert(r2.size == 2)
    assert(r2(0).getString(3).contains("\"steps\":3"))
    assert(r2(1).getString(3).contains("\"count\":42"))
    // an entry whose result field is PRESENT and explicitly null is a
    // tracer that ran and returned null — the reference serializes the
    // value verbatim (javascript_traces.rs process_javascript_traces),
    // so the row survives with output "null"; {txHash, error} with NO
    // result field stays dropped
    val explicitNull =
      """{"result":[
        | {"txHash":"0xaa","result":null},
        | {"txHash":"0xbb","error":"oops"}]}""".stripMargin
    val r3 = RpcExtract.jsTraceBlock(explicitNull, blockNumber = 16, chainId = 1)
    assert(r3.size == 1 && r3(0).getInt(1) == 0 && r3(0).getString(3) == "null")
    // a bare {txHash} (skipped tx: no error, no result) is geth's
    // no-output shape and drops; the empty object {} is legacy tracer
    // OUTPUT and survives
    val bare =
      """{"result":[
        | {"txHash":"0xaa"},
        | {}]}""".stripMargin
    val r4 = RpcExtract.jsTraceBlock(bare, blockNumber = 16, chainId = 1)
    assert(r4.size == 1 && r4(0).getInt(1) == 1 && r4(0).getString(3) == "{}")
  }

  test("gethOpcodes parses struct logs") {
    val body =
      """{"result":{"structLogs":[
        | {"pc":0,"op":"PUSH1","gas":100000,"gasCost":3,"depth":1},
        | {"pc":2,"op":"MSTORE","gas":99997,"gasCost":12,"depth":1}]}}""".stripMargin
    val rows = RpcExtract.gethOpcodes(body, blockNumber = 16, txIndex = 0, chainId = 1)
    assert(rows.map(_.getString(3)) == Seq("PUSH1", "MSTORE"))
    assert(rows(1).getLong(5) == 12L)
    // memory/stack/storage: absent captures are null
    assert(rows.forall(r => (7 to 9).forall(r.isNullAt)))
    // a log that carries all three captures writes each as compact JSON
    val captured =
      """{"result":{"structLogs":[
        | {"pc":4,"op":"SSTORE","gas":99985,"gasCost":20000,"depth":1,
        |  "memory":["0000000000000000000000000000000000000000000000000000000000000080"],
        |  "stack":["0x1", "0x2"],
        |  "storage":{"0000000000000000000000000000000000000000000000000000000000000001":
        |    "0000000000000000000000000000000000000000000000000000000000000002"}}]}}""".stripMargin
    val c = RpcExtract.gethOpcodes(captured, blockNumber = 16, txIndex = 1, chainId = 1)
    assert(c.size == 1)
    assert(c.head.getString(7) ==
      """["0000000000000000000000000000000000000000000000000000000000000080"]""")
    assert(c.head.getString(8) == """["0x1","0x2"]""")
    assert(c.head.getString(9) ==
      """{"0000000000000000000000000000000000000000000000000000000000000001":""" +
        """"0000000000000000000000000000000000000000000000000000000000000002"}""")
  }

  test("getLogs topic position filters: trailing trim, interior wildcard") {
    val r = RpcCodec.getLogsRequest(1, 0, 10, None,
      Seq(Some("0xaa"), None, Some("0xbb"), None))
    assert(r.contains(""""topics":["0xaa",null,"0xbb"]"""))
    val none = RpcCodec.getLogsRequest(1, 0, 10, None, Seq(None, None, None, None))
    assert(!none.contains("topics"))
  }

  test("rpc url resolution chain: flag > MESC > ETH_RPC_URL") {
    import graft.sources.RpcConfig
    assert(RpcConfig.resolveUrl(Some("http://flag:1"), Map.empty) == "http://flag:1")
    val mesc = Files.createTempFile("mesc", ".json")
    Files.writeString(mesc,
      """{"default_endpoint":"local_node",
        |"endpoints":{"local_node":{"url":"http://mesc:8545","chain_id":"1"}}}""".stripMargin)
    assert(RpcConfig.resolveUrl(None, Map("ETH_RPC_URL" -> "http://env:2"),
      mescPathOverride = Some(mesc.toString)) == "http://mesc:8545")
    assert(RpcConfig.resolveUrl(None, Map("ETH_RPC_URL" -> "http://env:2"),
      mescPathOverride = Some("/nonexistent")) == "http://env:2")
    intercept[IllegalArgumentException] {
      RpcConfig.resolveUrl(None, Map.empty, Some("/nonexistent"))
    }
    assert(RpcConfig.chainIdRequest(1).contains("eth_chainId"))
    assert(RpcConfig.parseChainId("""{"result":"0x89"}""") == 137L)
  }

  test("hex decoding: quantities, bytes, u256") {
    assert(RpcCodec.parseHexLong("0x10") == 16)
    assert(RpcCodec.parseHexLong("0x") == 0)
    assert(RpcCodec.parseHexBytes("0x0a1b").toSeq == Seq(0x0a.toByte, 0x1b.toByte))
    assert(RpcCodec.parseHexBytes("0xabc").toSeq == Seq(0x0a.toByte, 0xbc.toByte)) // odd-width pad
    val u = RpcCodec.parseHexU256("0xff")
    assert(u.length == 32 && (u(31) & 0xff) == 255)
    // bare "0x" (empty quantity, seen in the wild for zero) is zero —
    // BigInteger("", 16) would otherwise throw and kill the task
    assert(RpcCodec.parseHexU256("0x").forall(_ == 0))
  }

  test("batch response guards: short batches, batch-level errors, error:null") {
    import graft.sources.RpcSource
    // a node answering fewer responses than requests must fail the batch
    // (positional zips would misalign blocks with responses)
    val short = """[{"id":0,"result":"0x1"}]"""
    val e1 = intercept[RuntimeException] { RpcSource.splitBatch(short, 2) }
    assert(e1.getMessage.contains("answered 1 of 2"))
    assert(RpcSource.splitBatch(short, 1).size == 1)
    // a batch-LEVEL failure answers 200 with a single error object —
    // previously Nil, which silently vanished the whole batch
    val rejected = """{"id":null,"error":{"code":-32600,"message":"batch too large"}}"""
    val e2 = intercept[RuntimeException] { RpcSource.splitBatch(rejected, 2) }
    assert(e2.getMessage.contains("batch too large"))
    // an explicit "error": null member is not an error; receipts would
    // otherwise fall back to per-tx fetches for every block
    assert(!RpcSource.isError("""{"result":[1],"error":null}"""))
    assert(RpcSource.isError("""{"result":null,"error":{"code":1}}"""))
  }
}

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("stateful streaming sessionization matches the batch window form") {
    val src = Files.createTempDirectory("graft_sess_src").toString
    val batch = Tables(spark, sf, "events")
    batch.write.mode("overwrite").parquet(src)
    val stream = FollowMode.readAppendOnly(spark, src, batch.schema,
      maxFilesPerTrigger = 1000) // one micro-batch → final rows are sessions
    val sessions = FollowMode.sessionize(spark, stream.toDF(), gapMinutes = 30)
    val q = sessions.writeStream.outputMode("update")
      .format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      // latest row per (user_id, session_seq) == the batch sessionization
      val got = spark.sql(
        """SELECT user_id, session_seq, n_events, session_start, session_end
          |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
          |        ORDER BY n_events DESC) rn FROM sess_out) WHERE rn = 1""".stripMargin)
      val want = graft.queries.EventsOps.defs("q_events_sessionize")(spark, sf)
      assert(got.count() == want.count())
      val g = got.orderBy("user_id", "session_seq").collect().map(_.toSeq)
      val w = want.select("user_id", "session_seq", "n_events",
        "session_start", "session_end")
        .orderBy("user_id", "session_seq").collect().map(_.toSeq)
      assert(g.sameElements(w))
    } finally q.stop()
  }

  test("sessionize: a cross-batch late event never inverts or splits the open session") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_sess_late").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = Seq((1L, ts("2026-01-01 10:00:00"))).toDF("user_id", "ts").schema
    Seq((1L, ts("2026-01-01 10:00:00"))).toDF("user_id", "ts")
      .coalesce(1).write.mode("overwrite").parquet(src)
    val stream = FollowMode.readAppendOnly(spark, src, schema,
      maxFilesPerTrigger = 1)
    val q = FollowMode.sessionize(spark, stream.toDF(), gapMinutes = 30)
      .writeStream.outputMode("update")
      .format("memory").queryName("sess_late").start()
    try {
      q.processAllAvailable() // batch 1: open session at 10:00
      // batch 2: a LATE event (09:59, inside the open span) plus a
      // following event 31 min after the true last (10:00) — before the
      // min/max guard, the late row rewound `last` to 09:59, making the
      // 10:30 event split a session the batch form keeps together and
      // emitting session_end < session_start
      Seq((1L, ts("2026-01-01 09:59:00")), (1L, ts("2026-01-01 10:30:00")))
        .toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT session_seq, n_events, session_start, session_end
          |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
          |        ORDER BY n_events DESC) rn FROM sess_late) WHERE rn = 1""".stripMargin)
        .collect()
      assert(rows.length == 1) // one session, not a spurious split
      val r = rows(0)
      assert(r.getAs[Int]("n_events") == 3)
      assert(!r.getAs[java.sql.Timestamp]("session_end")
        .before(r.getAs[java.sql.Timestamp]("session_start")))
      assert(r.getAs[java.sql.Timestamp]("session_start") == ts("2026-01-01 09:59:00"))
      assert(r.getAs[java.sql.Timestamp]("session_end") == ts("2026-01-01 10:30:00"))
    } finally q.stop()
  }

  test("streaming exact dedup suppresses cross-batch duplicate content") {
    val src = Files.createTempDirectory("graft_dedup_src").toString
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    // second wave: the same texts under fresh ids — pure content dups
    // arriving in LATER micro-batches, so suppression proves the
    // fingerprint state persists across batches
    docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .coalesce(1).write.mode("append").parquet(src)
    val stream = FollowMode.readAppendOnly(spark, src, docs.schema,
      maxFilesPerTrigger = 1)
    val q = FollowMode.dedupStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql("SELECT fp, count(*) AS c FROM dedup_out GROUP BY fp")
    val want = docs.select(md5(col("text")).as("fp")).distinct().count()
    assert(got.count() == want) // every distinct content survives once
    assert(got.filter(col("c") > 1).count() == 0) // and only once
  }

  test("streaming dedup state survives a checkpointed restart") {
    val src = Files.createTempDirectory("graft_rst_src").toString
    val chk = Files.createTempDirectory("graft_rst_chk").toString
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .filter(col("doc_id") < 100)
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    val out = Files.createTempDirectory("graft_rst_out").toString
    def runOnce(): Unit = {
      val stream = FollowMode.readAppendOnly(spark, src, docs.schema,
        maxFilesPerTrigger = 1)
      // parquet sink: the fault-tolerant sink checkpoint recovery needs
      // (the memory sink refuses to recover)
      val q = FollowMode.dedupStream(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", chk)
        .format("parquet").option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce() // wave 1 consumed, fingerprint state checkpointed
    // wave 2 AFTER the stop: same texts under fresh ids — every row is a
    // content duplicate of wave 1, so a restart that lost the state
    // store would re-emit them
    docs.select((col("doc_id") + 500000L).as("doc_id"), col("text"))
      .coalesce(1).write.mode("append").parquet(src)
    runOnce() // restarted from the checkpoint
    val result = spark.read.parquet(out)
    assert(result.filter(col("doc_id") >= 500000L).count() == 0) // no leaks
    assert(result.count() == docs.count()) // wave 1 passed through once
  }

  test("streaming PII scrub is row-identical to batch") {
    // the scrub is a stateless codegen projection, so the SAME function
    // must run unchanged on a stream and produce the batch rows exactly
    val src = Files.createTempDirectory("graft_pii_src").toString
    val raw = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" mail "), col("doc_id").cast("string"),
          lit("@x.example.net id "), (col("doc_id") * 31 + 100000).cast("string"))
          .as("raw"))
    raw.coalesce(2).write.mode("overwrite").parquet(src)
    val stream = FollowMode.readAppendOnly(spark, src, raw.schema,
      maxFilesPerTrigger = 1)
    val q = graft.queries.TextOps.piiScrubOf(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("pii_out").start()
    try q.processAllAvailable() finally q.stop()
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    val got = snap(spark.sql("SELECT doc_id, n_emails, n_digit_runs, clean_text FROM pii_out"))
    val want = snap(graft.queries.TextOps.piiScrubOf(raw))
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("streaming PQ ingest appends codes bit-identical to the batch index") {
    val e = Tables(spark, sf, "embeddings")
    val idx = Files.createTempDirectory("graft_annstream").toString
    graft.queries.SimilarityOps.saveIvfPqIndex(e, idx)
    // embeddings arrive across micro-batches (parity waves), encoding
    // against the frozen centroids + codebook loaded from the index
    val src = Files.createTempDirectory("graft_annsrc").toString
    e.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(src)
    e.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    val stream = FollowMode.readAppendOnly(spark, src, e.schema,
      maxFilesPerTrigger = 1)
    val enc = graft.queries.SimilarityOps.encodeStream(spark, stream, idx)
    val q = enc.writeStream.outputMode("append").format("parquet")
      .option("path", s"$idx/codes_stream.parquet")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_annchk").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(path: String) = spark.read.parquet(path)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("centroid_id"),
        r.getAs[Int]("sub"), r.getAs[Int]("code"))).sorted
    val got = rows(s"$idx/codes_stream.parquet")
    val want = rows(graft.operators.IndexCompact
      .resolvePath(idx, "codes.parquet"))
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("watermark dedup keys by fingerprint alone and expires old state") {
    val src = Files.createTempDirectory("graft_wm_src").toString
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val texts = (0 until 20).map(i => s"document body number $i")
    def wave(ids: scala.Range, ts: java.sql.Timestamp, txts: Seq[String]) =
      ids.zip(txts).map { case (id, tx) => (id.toLong, tx, ts) }
        .toDF("doc_id", "text", "ts")
    val schema = wave(0 until 1, t0, texts.take(1)).schema
    wave(0 until 20, at(0), texts).coalesce(1)
      .write.mode("overwrite").parquet(src)
    // duplicate content at a DIFFERENT event time inside the horizon:
    // must still be suppressed (fp-only dedup, not (fp, ts) pairs)
    wave(1000 until 1020, at(10), texts).coalesce(1)
      .write.mode("append").parquet(src)
    // one unseen doc far ahead: advances the watermark past wave-1 expiry
    wave(2000 until 2001, at(300), Seq("fresh unseen text")).coalesce(1)
      .write.mode("append").parquet(src)
    // spacer batch: the watermark advances only after the batch carrying
    // the late event commits, and eviction runs end-of-batch — one more
    // micro-batch lets the expired wave-1 fingerprints actually drop
    wave(2001 until 2002, at(305), Seq("second unseen text")).coalesce(1)
      .write.mode("append").parquet(src)
    // duplicates arriving after the fingerprint state expired → re-admitted
    wave(3000 until 3020, at(310), texts).coalesce(1)
      .write.mode("append").parquet(src)
    val stream = FollowMode.readAppendOnly(spark, src, schema,
      maxFilesPerTrigger = 1)
    val q = FollowMode.dedupStream(stream, expireAfter = Some("1 hour"))
      .writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.sql("SELECT doc_id FROM wm_out").collect()
      .map(_.getLong(0)).toSet
    assert((0L until 20L).toSet.subsetOf(ids)) // wave 1 passes
    assert(ids.intersect((1000L until 1020L).toSet).isEmpty) // in-horizon dups suppressed
    assert(ids.contains(2000L))
    assert((3000L until 3020L).toSet.subsetOf(ids)) // expired → rolling window re-admits
  }

  test("streaming near-dup equals the batch banded candidates across batches") {
    val src = Files.createTempDirectory("graft_nd_src").toString
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    // two waves split by parity → every cross-parity pair must come from
    // bucket STATE carried across micro-batches
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(src)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    val stream = FollowMode.readAppendOnly(spark, src, docs.schema,
      maxFilesPerTrigger = 1)
    val q = FollowMode.neardupStream(spark, stream).writeStream
      .outputMode("update").format("memory").queryName("nd_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql("SELECT DISTINCT id_a, id_b FROM nd_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // candidates arise only from genuinely shared bands: the band's two
    // signature positions agree by construction
    assert(spark.sql("SELECT min(n_sig_agree) FROM nd_out")
      .collect()(0).getInt(0) >= 2)
    // exact equality with the batch banded candidate set (buckets are
    // under the cap at this sf, so cap admission semantics don't differ)
    val bands = graft.queries.TextOps.bandRowsOf(docs)
    val l = bands.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_a"))
    val r = bands.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_b"))
    val want = l.join(r, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == want)
    // ...which in particular covers every batch-reranked near-dup pair
    val reranked = graft.queries.TextOps.minhashPairsOf(docs)
      .select("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(reranked.subsetOf(got))
  }

  test("streaming card: drained per-source stats equal the batch rollup") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "source", "text")
    val src = Files.createTempDirectory("graft_card_src").toString
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(src)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    val stream = FollowMode.readAppendOnly(spark, src, docs.schema,
      maxFilesPerTrigger = 1)
    val q = FollowMode.cardStream(stream).writeStream
      .outputMode("update").format("memory").queryName("card_out").start()
    try q.processAllAvailable() finally q.stop()
    // the LATEST emission per source (largest n_docs — counts only grow)
    val got = spark.sql(
      """SELECT source, max_by(n_docs, n_docs) AS n_docs,
        | max_by(n_tokens, n_docs) AS n_tokens,
        | max_by(max_doc_tokens, n_docs) AS max_doc_tokens
        |FROM card_out GROUP BY source""".stripMargin)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val want = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("d"), sum("n").as("t"), max("n").as("m"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want)
  }

  test("streaming index dedup equals batch verdicts against the frozen index") {
    val docs = Tables(spark, sf, "documents")
    val idxDir = Files.createTempDirectory("graft_tidx_s").toString
    graft.queries.TextOps.saveTextIndex(
      docs.filter(col("doc_id") % 3 === 0), idxDir)
    val shard = docs.filter(col("doc_id") % 3 =!= 0).select("doc_id", "text")
    // precondition for exact stream/batch equality: the batch form also
    // caps buckets WITHIN the new shard — equality is guaranteed only
    // when no new-side bucket is over the cap, which holds here
    val maxNewBucket = graft.queries.TextOps.bandRowsOf(shard)
      .groupBy("band_idx", "band_hash").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxNewBucket <= graft.queries.TextOps.LshBucketCap)
    val src = Files.createTempDirectory("graft_idx_src").toString
    shard.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(src)
    shard.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    val stream = FollowMode.readAppendOnly(spark, src, shard.schema,
      maxFilesPerTrigger = 1)
    val q = FollowMode.indexDedupStream(spark, stream, idxDir).writeStream
      .outputMode("append").format("memory").queryName("idx_dedup_out").start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("doc_id") -> (
        if (r.isNullAt(r.fieldIndex("dup_exact_of"))) -1L
        else r.getAs[Long]("dup_exact_of"),
        if (r.isNullAt(r.fieldIndex("dup_near_of"))) -1L
        else r.getAs[Long]("dup_near_of"),
        r.getAs[Boolean]("keep"))
    val got = spark.sql("SELECT * FROM idx_dedup_out").collect().map(key).toMap
    val want = graft.queries.TextOps.dedupAgainstIndex(spark, shard, idxDir)
      .collect().map(key).toMap
    assert(got.size == want.size && got == want)
    // the near tier actually fires on real data (not vacuous equality)
    assert(got.values.exists(_._2 >= 0))
  }

  test("streaming embedding near-dup equals the batch pairs, cosines bit-equal") {
    val src = Files.createTempDirectory("graft_end_src").toString
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    vecs.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(src)
    vecs.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    val stream = FollowMode.readAppendOnly(spark, src, vecs.schema,
      maxFilesPerTrigger = 1)
    val q = FollowMode.embNeardupStream(spark, stream).writeStream
      .outputMode("update").format("memory").queryName("end_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql("SELECT DISTINCT id_a, id_b, cosine FROM end_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.queries.SimilarityOps.neardupOf(vecs).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("cosine"))).toSet
    // same pairs AND bit-identical cosines: the in-state fold preserves
    // the codegen kernels' evaluation order, and IEEE multiplication is
    // commutative so arrival order cannot perturb the value
    assert(got == want && got.nonEmpty)
  }

  test("streaming SemDeDup equals batch verdicts across out-of-order waves") {
    // the cell-blocked streaming twin: wave 1 carries the EVEN ids,
    // wave 2 the odd — so lower-id members routinely arrive AFTER
    // higher-id ones and the late-arrival re-emission path is what is
    // under test. Folding emitted Update rows by max prior per vec_id
    // must reproduce the batch semdedupOf verdict exactly (cosines
    // bit-equal — the in-state fold preserves the kernel order).
    val src = Files.createTempDirectory("graft_sds_src").toString
    val base = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    // plant one guaranteed semantic dup (an exact copy under a higher
    // id): the fixture's planted near-dups can all sit below tau at
    // the spec's small sf, and the drop path must not go untested
    val clone = base.filter(col("vec_id") === 20)
      .select(lit(1000000L).as("vec_id"), col("embedding"))
    val vecs = base.unionByName(clone)
    val cents = vecs.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    vecs.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(src)
    vecs.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    val stream = FollowMode.readAppendOnly(spark, src, vecs.schema,
      maxFilesPerTrigger = 1)
    val confBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val plan = FollowMode.semdedupStream(spark, stream, cents)
    val q = plan.writeStream
      .outputMode("update").format("memory").queryName("sds_out").start()
    try q.processAllAvailable() finally q.stop()
    // r16: the sizing runs on a CLONED session — the caller's conf is
    // untouched (no hand-restore needed), and the memory sink's temp
    // view lives on the stream's own session
    assert(spark.conf.get("spark.sql.shuffle.partitions") == confBefore)
    // monotone refinement: the max prior across a vec's emitted rows is
    // its final verdict (NaN ranks greatest, like the batch ranking)
    val got = plan.sparkSession.sql(
      """SELECT vec_id, first(centroid_id) AS centroid_id,
        |  max(max_prior_cosine) AS max_prior_cosine
        |FROM sds_out GROUP BY vec_id""".stripMargin)
      .withColumn("keep",
        coalesce(col("max_prior_cosine") <=
          graft.queries.SimilarityOps.SemdedupTau, lit(true)))
      .collect().map(r => r.getAs[Long]("vec_id") -> (
        r.getAs[Long]("centroid_id"),
        Option(r.get(r.fieldIndex("max_prior_cosine"))),
        r.getAs[Boolean]("keep"))).toMap
    val want = graft.queries.SimilarityOps.semdedupOf(vecs)
      .collect().map(r => r.getAs[Long]("vec_id") -> (
        r.getAs[Long]("centroid_id"),
        Option(r.get(r.fieldIndex("max_prior_cosine"))),
        r.getAs[Boolean]("keep"))).toMap
    assert(got.size == want.size)
    assert(got == want)
    // not vacuous: real drops and real priors exist on this corpus
    assert(got.values.exists(!_._3))
    assert(got.values.exists(_._2.isDefined))
  }

  test("streaming SemDeDup: an unassignable (ragged-dim) arrival passes " +
      "through keep=true and does NOT disable dedup for anything " +
      "behind it (r16)") {
    val src = Files.createTempDirectory("graft_sds_rag_src").toString
    val base = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    // a guaranteed semantic dup: exact copy of vec 20 under a high id
    val clone = base.filter(col("vec_id") === 20)
      .select(lit(1000000L).as("vec_id"), col("embedding"))
    // the ragged vector: dim 3 matches no centroid, and its LOW id would
    // have made it the dim anchor under the pre-r16 first-arrival rule
    val ragged = spark.range(1).select(lit(-5L).as("vec_id"),
      array(lit(0.1f), lit(0.2f), lit(0.3f)).as("embedding"))
    val wellFormed = base.unionByName(clone)
    val cents = base.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    // FIRST file = the ragged row alone (first trigger, before any state
    // exists); the well-formed corpus follows
    ragged.coalesce(1).write.mode("overwrite").parquet(src)
    wellFormed.coalesce(1).write.mode("append").parquet(src)
    val stream = FollowMode.readAppendOnly(spark, src,
      wellFormed.schema, maxFilesPerTrigger = 1)
    val plan = FollowMode.semdedupStream(spark, stream, cents)
    val q = plan.writeStream.outputMode("update").format("memory")
      .queryName("sds_rag_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = plan.sparkSession.sql(
      """SELECT vec_id, first(centroid_id) AS cell,
        |  max(max_prior_cosine) AS mpc
        |FROM sds_rag_out GROUP BY vec_id""".stripMargin)
      .withColumn("keep", coalesce(col("mpc") <=
        graft.queries.SimilarityOps.SemdedupTau, lit(true)))
      .collect().map(r => r.getAs[Long]("vec_id") -> (
        r.getAs[Long]("cell"), Option(r.get(r.fieldIndex("mpc"))),
        r.getAs[Boolean]("keep"))).toMap
    // the ragged vector: unassigned cell, NULL prior, keep=true — and
    // it did not crash the stream (pre-r16 a NULL bucket failed the
    // VecRow encoding before any guard ran)
    assert(got(-5L) == ((FollowMode.UnassignedCell, None, true)))
    // everything behind it still dedups: the planted clone DROPS
    assert(!got(1000000L)._3, "ragged arrival disabled dedup for the cell")
    // and the well-formed verdicts equal batch on the well-formed corpus
    val want = graft.queries.SimilarityOps.semdedupOf(wellFormed)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Boolean]("keep")).toMap
    assert(got.view.filterKeys(_ != -5L).mapValues(_._3).toMap == want)
  }

  test("streaming SemDeDup sizes its own state partitions (r15) on a " +
      "CLONED session (r16): the caller's conf is untouched, the " +
      "started query's state operator runs at the sized count, and " +
      "verdicts still equal batch") {
    val src = Files.createTempDirectory("graft_sds_sz_src").toString
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    vecs.coalesce(1).write.mode("overwrite").parquet(src)
    val cents = vecs.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32") // deliberately oversized
    try {
      val stream = FollowMode.readAppendOnly(spark, src, vecs.schema,
        maxFilesPerTrigger = 1)
      val plan = FollowMode.semdedupStream(spark, stream, cents)
      val sized = FollowMode.semdedupStatePartitions(16,
        spark.sparkContext.defaultParallelism)
      // r16 (VERDICT r15 item 5): the sizing is scoped to the stream's
      // own cloned session — the CALLER's conf must be unchanged...
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "32",
        "semdedupStream mutated the caller's session conf")
      // ...while the stream's session carries the sized value
      assert(plan.sparkSession ne spark,
        "expected the stream on a cloned session")
      assert(plan.sparkSession.conf
        .get("spark.sql.shuffle.partitions") == sized.toString)
      val q = plan.writeStream.outputMode("update").format("memory")
        .queryName("sds_sz_out").start()
      try {
        q.processAllAvailable()
        val progress = q.recentProgress.filter(_.stateOperators.nonEmpty)
        assert(progress.nonEmpty,
          "no stateful-operator progress recorded")
        assert(progress.forall(
          _.stateOperators.head.numShufflePartitions == sized),
          s"state operator ran at ${progress.map(
            _.stateOperators.head.numShufflePartitions).toSet}, want $sized")
      } finally q.stop()
      val got = plan.sparkSession.sql(
        """SELECT vec_id, max(max_prior_cosine) AS mpc
          |FROM sds_sz_out GROUP BY vec_id""".stripMargin)
        .withColumn("keep", coalesce(col("mpc") <=
          graft.queries.SimilarityOps.SemdedupTau, lit(true)))
        .collect().map(r => r.getAs[Long]("vec_id") ->
          r.getAs[Boolean]("keep")).toMap
      val want = graft.queries.SimilarityOps.semdedupOf(vecs)
        .collect().map(r => r.getAs[Long]("vec_id") ->
          r.getAs[Boolean]("keep")).toMap
      assert(got == want && got.nonEmpty)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("follow-mode windowed aggregation over an append-only directory") {
    val src = Files.createTempDirectory("graft_stream_src").toString
    val chk = Files.createTempDirectory("graft_stream_chk").toString
    val batch = Tables(spark, sf, "events")
    batch.write.mode("overwrite").parquet(src)
    val stream = FollowMode.readAppendOnly(spark, src, batch.schema,
      maxFilesPerTrigger = 2)
    val agg = FollowMode.windowedCounts(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("follow_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select sum(n_events) from follow_out").collect()(0).getLong(0)
      assert(got == batch.count())
    } finally q.stop()
  }
}

/** r14 brief item 1 + 3: trained centroids persist as a versioned,
  * pointer-resolved index artifact (IndexCompact.publishTree) keyed by
  * (corpus fingerprint, k), and every knob memo self-validates against
  * the corpus fingerprint so an append can never serve a stale reading
  * from a public surface. */
class TrainedCentsLifecycleSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.queries.SimilarityOps

  private def collectCents(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toVector)
      .sortBy(_._1)

  test("trained cents: publish once, read-back == retrain (bit-equal), " +
      "a fresh memo resolves the artifact instead of retraining") {
    val base = Files.createTempDirectory("graft_tcents").toString
    val prev = SimilarityOps.trainedIndexBaseOverride
    SimilarityOps.trainedIndexBaseOverride = Some(base)
    try {
      SimilarityOps.clearTrainedCentsCache()
      val k = 16
      val art = SimilarityOps.trainedCentsArtifact(k)
      val c1 = collectCents(SimilarityOps.trainedCentsOf(spark, sf, k))
      val idxDirs = new java.io.File(base).listFiles()
      assert(idxDirs != null && idxDirs.length == 1)
      val idxDir = idxDirs.head.toString
      // published exactly once through the pointer layout
      assert(graft.operators.IndexCompact.currentVersion(idxDir, art) == 1)
      // the served plan reads the ARTIFACT (durable), not a
      // localCheckpoint: its LINEAGE must bottom out in the published
      // tree. Inspect the analyzed plan's file relations — inputFiles
      // reads the OPTIMIZED plan, which substitutes InMemoryRelation
      // for the frame's own persist() and would come back empty.
      SimilarityOps.clearTrainedCentsCache()
      val served = SimilarityOps.trainedCentsOf(spark, sf, k)
      val roots = served.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      assert(roots.exists(_.contains(art)),
        s"expected an artifact-backed scan, got roots: ${roots.mkString(",")}")
      // the cleared memo (new-session stand-in) did NOT republish...
      assert(graft.operators.IndexCompact.currentVersion(idxDir, art) == 1)
      // ...and read-back == retrain, bit-equal floats
      val c2 = collectCents(served)
      val fresh = collectCents(
        SimilarityOps.kmeansOf(Tables(spark, sf, "embeddings"), k, iters = 3))
      assert(c1.map(_._1).sameElements(c2.map(_._1)))
      c1.zip(c2).foreach { case ((_, v1), (_, v2)) => assert(v1 == v2) }
      c2.zip(fresh).foreach { case ((i1, v1), (i2, v2)) =>
        assert(i1 == i2 && v1 == v2)
      }
    } finally {
      SimilarityOps.trainedIndexBaseOverride = prev
      SimilarityOps.clearTrainedCentsCache()
    }
  }

  test("corpus append: the next access re-reads the scaled knob and " +
      "retrains — no manual cache clear, no stale reading") {
    val base = Files.createTempDirectory("graft_tcents_app").toString
    val corpus = Files.createTempDirectory("graft_tcents_corpus").toString
    val prev = SimilarityOps.trainedIndexBaseOverride
    SimilarityOps.trainedIndexBaseOverride = Some(base)
    try {
      SimilarityOps.clearTrainedCentsCache()
      SimilarityOps.clearCellCountCache()
      val e0 = Tables(spark, sf, "embeddings")
      e0.write.parquet(s"$corpus/embeddings.parquet")
      assert(SimilarityOps.scaledCellCountOf(spark, corpus) == 16)
      val art16 = SimilarityOps.trainedCentsArtifact(16)
      SimilarityOps.trainedCentsOf(spark, corpus, 16).count()
      val idxDir = new java.io.File(base).listFiles().head.toString
      assert(graft.operators.IndexCompact.currentVersion(idxDir, art16) == 1)
      // follow-mode append: a plain append-mode parquet write into the
      // corpus dir, enough copies to outgrow the 16-cell floor (target
      // 32 cells)
      val n0 = e0.count()
      val copies = (32 * SimilarityOps.CellTargetSize / n0 + 1).toInt
      val grown = (1 to copies).map(i =>
        e0.withColumn("vec_id", col("vec_id") + lit(i * n0)))
        .reduce(_ unionByName _)
      grown.write.mode("append").parquet(s"$corpus/embeddings.parquet")
      // the knob reflects the grown corpus WITHOUT any manual clear
      val k2 = SimilarityOps.scaledCellCountOf(spark, corpus)
      assert(k2 == (n0 * (copies + 1)) / SimilarityOps.CellTargetSize,
        s"stale cell count: got $k2")
      assert(k2 > 16)
      // trained cells at the old k retrain+republish (fingerprint
      // mismatch -> version bump), not serve the stale tree
      SimilarityOps.trainedCentsOf(spark, corpus, 16).count()
      assert(graft.operators.IndexCompact.currentVersion(idxDir, art16) == 2)
      // and the grown-corpus k publishes its own artifact
      val cents2 = SimilarityOps.trainedCentsOf(spark, corpus, k2)
      assert(cents2.count() > 16)
      assert(graft.operators.IndexCompact.currentVersion(idxDir,
        SimilarityOps.trainedCentsArtifact(k2)) == 1)
    } finally {
      SimilarityOps.trainedIndexBaseOverride = prev
      SimilarityOps.clearTrainedCentsCache()
      SimilarityOps.clearCellCountCache()
    }
  }
}

/** r15 brief item 6: a TrainedCentsRecipe bump is a version transition
  * of the SAME artifact — readers reject the old tree on the recipe
  * token and retrain+republish; the superseded tree gets the standard
  * one-cycle grace (a mid-flight reader on the old pointer survives)
  * and the NEXT publish GCs it. */
class TrainedCentsRecipeBumpSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.queries.SimilarityOps

  test("recipe bump: reject + retrain + version bump; superseded tree " +
      "survives one cycle and is GC'd by the next publish") {
    val base = Files.createTempDirectory("graft_tcents_recipe").toString
    val prevBase = SimilarityOps.trainedIndexBaseOverride
    val prevRecipe = SimilarityOps.trainedCentsRecipeOverride
    SimilarityOps.trainedIndexBaseOverride = Some(base)
    try {
      SimilarityOps.clearTrainedCentsCache()
      val art = SimilarityOps.trainedCentsArtifact(16)
      val servedV1 = SimilarityOps.trainedCentsOf(spark, sf, 16)
      assert(servedV1.count() > 0)
      val idxDir = new java.io.File(base).listFiles().head.toString
      def trees(v: Int) = Option(new java.io.File(idxDir).listFiles())
        .getOrElse(Array.empty[java.io.File]).map(_.getName)
        .filter(n => n.startsWith(s"$art.v$v") && !n.contains(".ptr."))
      val ic = graft.operators.IndexCompact
      assert(ic.currentVersion(idxDir, art) == 1 && trees(1).nonEmpty)
      // RECIPE BUMP: the next access rejects v1 on the recipe token,
      // retrains and republishes — version 2
      SimilarityOps.trainedCentsRecipeOverride = Some("lloyd3-grid20-vNEXT")
      SimilarityOps.clearTrainedCentsCache()
      SimilarityOps.trainedCentsOf(spark, sf, 16).count()
      assert(ic.currentVersion(idxDir, art) == 2)
      // one-cycle grace: the v1 tree is still on disk and the pre-bump
      // reader's plan still answers from it (unpersist forces the
      // re-read through the published parquet, not the block cache)
      assert(trees(1).nonEmpty, "superseded tree GC'd too early")
      servedV1.unpersist()
      assert(servedV1.count() > 0)
      // the NEXT publish (second bump) retires v1; v2 inherits the grace
      SimilarityOps.trainedCentsRecipeOverride = Some("lloyd3-grid20-vNEXT2")
      SimilarityOps.clearTrainedCentsCache()
      SimilarityOps.trainedCentsOf(spark, sf, 16).count()
      assert(ic.currentVersion(idxDir, art) == 3)
      assert(trees(1).isEmpty, "v1 must be GC'd by the v3 publish")
      assert(trees(2).nonEmpty, "v2 keeps the one-cycle grace")
    } finally {
      SimilarityOps.trainedCentsRecipeOverride = prevRecipe
      SimilarityOps.trainedIndexBaseOverride = prevBase
      SimilarityOps.clearTrainedCentsCache()
    }
  }
}

/** r15 brief item 4: trained artifacts TRAVEL WITH THE LAKE — a corpus
  * carrying a `.graft` dir resolves its trained-index base beside the
  * data, and a fresh session (another host's stand-in) reads the
  * artifact back with zero retrains. Without the lake marker the
  * default is a per-user tmpdir (ADVICE r14 — never the old shared
  * world-guessable path). */
class TrainedCentsLakeSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.queries.SimilarityOps

  test("lake round-trip: train under <corpus>/.graft/index, fresh " +
      "session + cleared memos resolves bit-equal with zero retrains") {
    val corpus = Files.createTempDirectory("graft_lake_corpus").toString
    val prevBase = SimilarityOps.trainedIndexBaseOverride
    SimilarityOps.trainedIndexBaseOverride = None // exercise the default
    try {
      Tables(spark, sf, "embeddings")
        .write.parquet(s"$corpus/embeddings.parquet")
      Files.createDirectories(Paths.get(s"$corpus/.graft"))
      SimilarityOps.clearTrainedCentsCache()
      val idxDir = SimilarityOps.trainedIndexDir(corpus).get
      assert(idxDir.startsWith(s"$corpus/.graft/index"),
        s"lake-marked corpus must resolve beside the data, got $idxDir")
      val art = SimilarityOps.trainedCentsArtifact(16)
      def cents(s: org.apache.spark.sql.SparkSession) =
        SimilarityOps.trainedCentsOf(s, corpus, 16).collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).sortBy(_._1)
      val c1 = cents(spark)
      val ic = graft.operators.IndexCompact
      assert(ic.currentVersion(idxDir, art) == 1)
      // "host B": a fresh session with cleared memos — the artifact
      // resolves through the lake path, NO retrain (version unchanged)
      val s2 = spark.newSession()
      SimilarityOps.clearTrainedCentsCache()
      val c2 = cents(s2)
      assert(ic.currentVersion(idxDir, art) == 1,
        "fresh session retrained/republished instead of resolving the lake artifact")
      assert(c1.map(_._1).sameElements(c2.map(_._1)))
      c1.zip(c2).foreach { case ((_, v1), (_, v2)) => assert(v1 == v2) }
    } finally {
      SimilarityOps.trainedIndexBaseOverride = prevBase
      SimilarityOps.clearTrainedCentsCache()
    }
  }

  test("no lake marker: the default base is per-user under tmpdir") {
    val corpus = Files.createTempDirectory("graft_nolake_corpus").toString
    val prevBase = SimilarityOps.trainedIndexBaseOverride
    SimilarityOps.trainedIndexBaseOverride = None
    try {
      val user = Option(System.getProperty("user.name")).getOrElse("nouser")
        .replaceAll("[^A-Za-z0-9._-]", "_")
      val idxDir = SimilarityOps.trainedIndexDir(corpus).get
      assert(idxDir.contains(s"graft_trained_cents-$user"),
        s"expected a per-user tmp base, got $idxDir")
    } finally SimilarityOps.trainedIndexBaseOverride = prevBase
  }

  // r16 (ADVICE r15 medium): the per-user tmp base is owner-and-perms
  // VERIFIED after the (idempotent) create — a hostile local user who
  // pre-creates a world-writable graft_trained_cents-<user> must not
  // receive our artifacts; a legitimately pre-existing private dir
  // keeps serving (durability across sessions on one host).
  test("tmp base: a clean root yields a private 0700 dir owned by us") {
    val root = Files.createTempDirectory("graft_tmpbase_clean")
    val user = Option(System.getProperty("user.name")).getOrElse("nouser")
    val got = SimilarityOps.verifiedUserTmpBase(root, user)
    assert(got.isDefined, "clean root must verify")
    val p = got.get
    assert(Files.getOwner(p).getName == user)
    import java.nio.file.attribute.PosixFilePermissions
    assert(PosixFilePermissions.toString(
      Files.getPosixFilePermissions(p)) == "rwx------")
    // a second resolution reuses the same verified dir (idempotent)
    assert(SimilarityOps.verifiedUserTmpBase(root, user) == got)
  }

  test("tmp base: a hostile world-writable pre-creation is refused and " +
      "the query serves in-session training with no artifact IO") {
    val root = Files.createTempDirectory("graft_tmpbase_hostile")
    val user = Option(System.getProperty("user.name")).getOrElse("nouser")
    val evil = root.resolve(
      s"graft_trained_cents-${user.replaceAll("[^A-Za-z0-9._-]", "_")}")
    import java.nio.file.attribute.PosixFilePermissions
    Files.createDirectories(evil)
    Files.setPosixFilePermissions(evil,
      PosixFilePermissions.fromString("rwxrwxrwx"))
    assert(SimilarityOps.verifiedUserTmpBase(root, user).isEmpty,
      "a pre-created world-writable base must be refused")
    // end-to-end: no trustworthy base -> trainedIndexDir is None, the
    // trained-cells query still answers, and NOTHING lands in the
    // hostile dir
    val prevBase = SimilarityOps.trainedIndexBaseOverride
    val prevRoot = SimilarityOps.trainedTmpRootOverride
    SimilarityOps.trainedIndexBaseOverride = None
    SimilarityOps.trainedTmpRootOverride = Some(root)
    try {
      SimilarityOps.clearTrainedCentsCache()
      assert(SimilarityOps.trainedIndexDir(sf).isEmpty)
      assert(SimilarityOps.trainedCentsOf(spark, sf, 16).count() > 0)
      val planted = Files.list(evil).toArray
      assert(planted.isEmpty,
        s"artifacts published into a hostile dir: ${planted.mkString(",")}")
    } finally {
      SimilarityOps.trainedIndexBaseOverride = prevBase
      SimilarityOps.trainedTmpRootOverride = prevRoot
      SimilarityOps.clearTrainedCentsCache()
    }
  }
}

/** r14: the trained-cents publish RACE contract — a trainer that loses
  * the cross-process publish lease must never fail the query: it
  * serves its (deterministic) in-session training and the artifact
  * publishes once the lease frees. */
class TrainedCentsRaceSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.queries.SimilarityOps

  test("a held foreign publish lease: query still answers; next access " +
      "publishes once the holder releases") {
    val base = Files.createTempDirectory("graft_tcents_race").toString
    val prev = SimilarityOps.trainedIndexBaseOverride
    SimilarityOps.trainedIndexBaseOverride = Some(base)
    try {
      SimilarityOps.clearTrainedCentsCache()
      val idxDir = SimilarityOps.trainedIndexDir(sf).get
      val art = SimilarityOps.trainedCentsArtifact(16)
      // a concurrent trainer holds the lease (live same-JVM pid — not
      // stale, not breakable)
      val mine = graft.operators.IndexCompact.acquirePublishLease(idxDir, art)
      try {
        val served = SimilarityOps.trainedCentsOf(spark, sf, 16)
        // the query ANSWERS (in-session fallback) and nothing published
        assert(served.count() > 0)
        assert(graft.operators.IndexCompact.currentVersion(idxDir, art) == 0)
      } finally graft.operators.IndexCompact
        .releasePublishLease(idxDir, art, mine)
      // lease freed: the next resolution publishes the artifact
      SimilarityOps.clearTrainedCentsCache()
      val after = SimilarityOps.trainedCentsOf(spark, sf, 16)
      assert(after.count() > 0)
      assert(graft.operators.IndexCompact.currentVersion(idxDir, art) == 1)
    } finally {
      SimilarityOps.trainedIndexBaseOverride = prev
      SimilarityOps.clearTrainedCentsCache()
    }
  }
}

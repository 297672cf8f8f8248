package graft

import java.math.BigInteger

import graft.chain.{Bronze, ChainDatasets, Datatypes, GenFixtures, TableSchema}
import graft.functions.{Keccak, U256}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's schema-selection unit tests
  * (cryo types/schemas.rs:239-380) against our registry. */
class DatatypesSpec extends AnyFunSuite {

  test("registry declares all 37 scalar datasets") {
    assert(Datatypes.all.size == 37)
    assert(Datatypes.all.map(_.name).distinct.size == 37)
  }

  test("aliases resolve to their datasets") {
    assert(Datatypes("txs").name == "transactions")
    assert(Datatypes("events").name == "logs")
    assert(Datatypes("4byte_counts").name == "four_byte_counts")
    assert(Datatypes("storages").name == "slots")
    assert(Datatypes("slot_diffs").name == "storage_diffs")
    assert(Datatypes("js_traces").name == "javascript_traces")
    intercept[IllegalArgumentException] { Datatypes("nope") }
  }

  test("every dataset carries chain_id and sorts by declared columns") {
    Datatypes.all.foreach { d =>
      assert(d.columnNames.contains("chain_id"), d.name)
      assert(d.sortColumns.forall(d.columnNames.contains), d.name)
      assert(d.u256Columns.forall(d.columnNames.contains), d.name)
    }
  }

  test("help surfaces: dataset catalog and per-dataset schema detail") {
    val cat = Cli.datasetsHelp
    assert(cat.contains("datasets (37):"))
    Datatypes.all.foreach(d => assert(cat.contains("- " + d.name), d.name))
    assert(cat.contains("(txs)") && cat.contains("(events)"))
    assert(cat.contains("multi-dataset bundles:"))

    val info = Cli.datasetInfo("txs") // alias resolves
    assert(info.contains("dataset: transactions"))
    assert(info.contains("can collect by block or by transaction"))
    assert(info.contains("default sort: block_number, transaction_index"))
    assert(info.contains("u256 repr family"))
    assert(info.contains("excluded by default"))
    intercept[IllegalArgumentException] { Cli.datasetInfo("nope") }

    // every bundle the catalog advertises must resolve through
    // `help <bundle>` too (the CLI accepts bundles as dataset args)
    Datatypes.multis.keys.foreach { m =>
      val mi = Cli.datasetInfo(m)
      assert(mi.contains(s"multi-dataset bundle: $m"), m)
      Datatypes.multis(m).foreach(member => assert(mi.contains(member), member))
    }
  }

  test("multis cover known members") {
    Datatypes.multis.values.flatten.foreach { m =>
      assert(Datatypes.byName.contains(m), m)
    }
    assert(Datatypes.multis("state_diffs").size == 4)
  }

  test("default selection excludes declared-excluded columns in order") {
    val used = TableSchema.resolve(Datatypes.blocks)
    assert(used.head == "block_number" && used.last == "chain_id")
    assert(!used.contains("logs_bloom") && !used.contains("state_root"))
    // declaration order preserved
    assert(used == Datatypes.blocks.columnNames.filter(used.contains))
  }

  test("include adds, exclude removes, all wildcard") {
    val ds = Datatypes.blocks
    assert(TableSchema.resolve(ds, include = Seq("logs_bloom")).contains("logs_bloom"))
    assert(!TableSchema.resolve(ds, exclude = Seq("gas_used")).contains("gas_used"))
    assert(TableSchema.resolve(ds, include = Seq("all")) == ds.columnNames)
    // unknown include is skipped permissively (schemas.rs semantics)
    assert(TableSchema.resolve(ds, include = Seq("not_a_column")) ==
      TableSchema.resolve(ds))
  }

  test("explicit columns keep user order; unknown errors; all wildcard") {
    val ds = Datatypes.blocks
    assert(TableSchema.resolve(ds, columns = Some(Seq("gas_used", "block_number"))) ==
      Seq("gas_used", "block_number"))
    assert(TableSchema.resolve(ds, columns = Some(Seq("all"))) == ds.columnNames)
    intercept[IllegalArgumentException] {
      TableSchema.resolve(ds, columns = Some(Seq("bogus")))
    }
  }

  test("default sort drops transaction_index when log_index present") {
    assert(TableSchema.defaultSort(Datatypes.logs) == Seq("block_number", "log_index"))
    assert(TableSchema.defaultSort(Datatypes.transactions) ==
      Seq("block_number", "transaction_index"))
  }
}

/** Semantic invariants of the chain dataset transforms over the
  * deterministic fixtures. */
class ChainDatasetsSpec extends AnyFunSuite {
  import SparkTestSession._
  private val dir = graft.queries.ChainQueries.FixDir

  test("transactions: EIP-1559 effective gas price and success flag") {
    val t = ChainDatasets.transactions(Bronze.dir(spark, dir))
    val type2 = t.filter(col("transaction_type") === 2).collect()
    assert(type2.nonEmpty)
    // effective price never exceeds max_fee
    val raw = Bronze.dir(spark, dir)("rpc_transactions")
      .filter(col("max_fee_per_gas").isNotNull)
      .select("transaction_hash", "max_fee_per_gas").collect()
      .map(r => new String(r.getAs[Array[Byte]](0).map("%02x".format(_)).mkString) -> r.getLong(1)).toMap
    type2.foreach { r =>
      val h = r.getAs[Array[Byte]]("transaction_hash").map("%02x".format(_)).mkString
      assert(r.getAs[Long]("gas_price") <= raw(h), s"gas_price>max_fee for $h")
    }
    val failed = t.filter(!col("success")).count()
    assert(failed > 0 &&
      ChainDatasets.transactions(Bronze.dir(spark, dir), excludeFailed = true)
        .filter(!col("success")).count() == 0)
  }

  test("transactions: no forced broadcast hints (base-fee dim is unbounded in history collects)") {
    val t = ChainDatasets.transactions(Bronze.dir(spark, dir))
    val hints = t.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"forced join hints found: $hints")
  }

  test("decoded logs: value_string equals decimal of raw data") {
    val dec = ChainDatasets.logs(Bronze.dir(spark, dir),
      eventSignature = Some("Transfer(address indexed from, address indexed to, uint256 value)"),
      u256Reprs = Seq(U256.Binary, U256.Str)).collect()
    assert(dec.nonEmpty)
    dec.foreach { r =>
      val bin = r.getAs[Array[Byte]]("event__value_binary")
      assert(r.getAs[String]("event__value_string") == new BigInteger(1, bin).toString)
    }
  }

  test("erc20 transfers exclude malformed and 4-topic logs") {
    val n20 = ChainDatasets.erc20Transfers(Bronze.dir(spark, dir)).count()
    val n721 = ChainDatasets.erc721Transfers(Bronze.dir(spark, dir)).count()
    val rawTransferTopic = Bronze.dir(spark, dir)("rpc_logs")
      .filter(get(col("topics"), lit(0)) === lit(Keccak.hash("Transfer(address,address,uint256)")))
      .count()
    assert(n20 > 0 && n721 > 0)
    assert(n20 + n721 < rawTransferTopic) // malformed 31-byte rows dropped
  }

  test("trace subtree pruning removes failed nodes and their descendants") {
    val kept = ChainDatasets.traces(Bronze.dir(spark, dir), excludeFailed = true)
      .select("transaction_hash", "trace_address").collect()
      .map(r => (Option(r.getAs[Array[Byte]](0)).map(_.toSeq), r.getString(1)))
    val failed = Bronze.dir(spark, dir)("rpc_traces")
      .filter(col("error").isNotNull)
      .select("transaction_hash", "trace_address").collect()
      .map(r => (Option(r.getAs[Array[Byte]](0)).map(_.toSeq), r.getString(1)))
    assert(failed.nonEmpty)
    failed.foreach { case (tx, fpath) =>
      kept.filter(_._1 == tx).foreach { case (_, path) =>
        assert(path != fpath, s"failed node kept: $fpath")
        assert(!path.startsWith(fpath + "_"), s"descendant of failed $fpath kept: $path")
        assert(fpath.nonEmpty, s"tx with failed root retained rows")
      }
    }
  }

  test("contracts: deployer is root sender; factory creates differ") {
    val c = ChainDatasets.contracts(Bronze.dir(spark, dir)).collect()
    assert(c.nonEmpty)
    // factory-created contracts (non-root creates) have factory != deployer
    val factoryCreates = c.filter(r =>
      !java.util.Arrays.equals(r.getAs[Array[Byte]]("deployer"), r.getAs[Array[Byte]]("factory")))
    assert(factoryCreates.nonEmpty, "fixtures plant factory creates")
    // code_hash is keccak(code)
    c.take(5).foreach { r =>
      val code = r.getAs[Array[Byte]]("code")
      if (code != null)
        assert(java.util.Arrays.equals(r.getAs[Array[Byte]]("code_hash"), Keccak.hash(code)))
    }
  }

  test("erc20 metadata scrubs control characters") {
    val names = ChainDatasets.erc20Metadata(Bronze.dir(spark, dir))
      .select("name").collect().map(_.getString(0)).toSet
    assert(names == Set("Alpha Token", "BetaToken", "Gamma"))
  }

  test("native transfers include rewards and suicides with correct endpoints") {
    val nt = ChainDatasets.nativeTransfers(Bronze.dir(spark, dir), Seq(U256.Str)).collect()
    val rewards = nt.filter(_.isNullAt(1)) // reward rows: null transaction_index
    assert(rewards.nonEmpty)
    // reward endpoints (native_transfers.rs:99-103): from = zero address,
    // to = author (which the traces bronze stores in action_from)
    rewards.foreach { r =>
      assert(r.getAs[Array[Byte]]("from_address").toSeq == Seq.fill(20)(0.toByte))
      assert(r.getAs[Array[Byte]]("to_address") != null)
    }
    assert(nt.forall(r => BigInt(r.getAs[String]("value_string")) >= 0))
  }

  test("pagerank: integer-grid ranks are deterministic, bounded, floored") {
    import org.apache.spark.sql.functions.col
    val txs = spark.read.parquet(s"$dir/rpc_transactions.parquet")
    def run() = graft.queries.ChainQueries.pagerankOf(txs).collect()
      .map(r => r.getAs[Array[Byte]]("address").toSeq -> r.getAs[Long]("rank_q"))
      .sortBy(_._1.map("%02x".format(_)).mkString)
    val a = run()
    assert(a.nonEmpty && a.sameElements(run())) // bit-identical across runs
    val grid = 1073741824L
    val n = a.length
    val baseQ = (grid * 15L) / (100L * n)
    // every node keeps at least the teleport floor; total mass never
    // exceeds the initial grid mass (damping + dangling drop only shed)
    assert(a.forall(_._2 >= baseQ))
    assert(a.map(_._2).sum <= grid)
    // sink addresses (no outgoing edge with in-edges elsewhere) exist in
    // the fixture and someone must rank strictly above the floor
    assert(a.exists(_._2 > baseQ))
  }

  test("pagerank: empty edge set yields an empty ranking, not a crash") {
    import org.apache.spark.sql.functions.col
    val txs = spark.read.parquet(s"$dir/rpc_transactions.parquet")
    // every to_address nulled: no edges survive the filter, n = 0 —
    // must return the empty table with the output schema instead of
    // dividing the teleport grid by zero
    val noEdges = txs.withColumn("to_address",
      org.apache.spark.sql.functions.lit(null).cast("binary"))
    val out = graft.queries.ChainQueries.pagerankOf(noEdges)
    assert(out.columns.toSeq == Seq("address", "rank_q", "rank"))
    assert(out.count() == 0)
  }

  test("pagerank: reliable checkpoint dir identical; exact fixpoint early-exits") {
    val txs = spark.read.parquet(s"$dir/rpc_transactions.parquet")
    def key(rows: Array[org.apache.spark.sql.Row]): Seq[(String, Long)] = rows
      .map(r => r.getAs[Array[Byte]]("address").map("%02x".format(_)).mkString ->
        r.getAs[Long]("rank_q")).sortBy(_._1).toSeq
    // reliable `checkpoint` (executor-loss-safe on a cluster) must be a
    // pure fault-tolerance swap: bit-identical ranks to localCheckpoint
    val local = key(graft.queries.ChainQueries.pagerankOf(txs).collect())
    val ckDir = java.nio.file.Files.createTempDirectory("graft_pr_ck").toString
    val reliable = key(graft.queries.ChainQueries
      .pagerankOf(txs, 3, Some(ckDir)).collect())
    assert(local == reliable)
    // exact integer fixpoint: on the single-edge graph a->b the source
    // pins to the teleport floor after round 1, the sink's input is
    // therefore constant from round 2, and round 3 observes zero moved
    // ranks -> the loop must exit there, and extra budget can't move a
    // converged fixpoint
    import spark.implicits._
    val tiny = Seq((Array[Byte](1), Array[Byte](2)))
      .toDF("from_address", "to_address")
    val fx = key(graft.queries.ChainQueries
      .pagerankOf(tiny, maxIters = 10).collect())
    val rounds = graft.queries.ChainQueries.lastPagerankRounds.get
    assert(rounds == 3, s"expected convergence exit at round 3, ran $rounds")
    val fx2 = key(graft.queries.ChainQueries
      .pagerankOf(tiny, maxIters = rounds + 5).collect())
    assert(fx == fx2)
  }

  test("pagerank: driver finish is bit-equal to the distributed route") {
    // r17: pagerankOf finishes on the driver (bounded collect + exact
    // local replay of the integer-grid rounds) once the distinct edge
    // set fits PrFinishEdgeCap. Pin both routes — and the convergence
    // accounting — to identical results on the real fixture graph and
    // on a shape that early-exits.
    val txs = spark.read.parquet(s"$dir/rpc_transactions.parquet")
    def key(rows: Array[org.apache.spark.sql.Row]): Seq[(String, Long, Double)] =
      rows.map(r =>
        (r.getAs[Array[Byte]]("address").map("%02x".format(_)).mkString,
          r.getAs[Long]("rank_q"), r.getAs[Double]("rank"))).sortBy(_._1).toSeq
    val finished = key(graft.queries.ChainQueries.pagerankOf(txs).collect())
    val finishedRounds = graft.queries.ChainQueries.lastPagerankRounds.get
    try {
      graft.queries.ChainQueries.prFinishCapOverride = Some(0)
      val distributed = key(
        graft.queries.ChainQueries.pagerankOf(txs).collect())
      val distributedRounds = graft.queries.ChainQueries.lastPagerankRounds.get
      assert(distributed == finished)
      assert(distributedRounds == finishedRounds,
        s"round accounting diverged: local $finishedRounds vs " +
          s"distributed $distributedRounds")
      // a mid-size cap exercises the over-cap truncated-read branch
      // (one bounded collect, then the distributed loop)
      graft.queries.ChainQueries.prFinishCapOverride = Some(1)
      assert(key(graft.queries.ChainQueries.pagerankOf(txs).collect())
        == finished)
    } finally graft.queries.ChainQueries.prFinishCapOverride = None
    // the single-edge early-exit shape must converge at the same round
    // on both routes (the driver loop replays the exact stop rule)
    import spark.implicits._
    val tiny = Seq((Array[Byte](1), Array[Byte](2)))
      .toDF("from_address", "to_address")
    val fxLocal = key(graft.queries.ChainQueries
      .pagerankOf(tiny, maxIters = 10).collect())
    val localRounds = graft.queries.ChainQueries.lastPagerankRounds.get
    try {
      graft.queries.ChainQueries.prFinishCapOverride = Some(0)
      val fxDist = key(graft.queries.ChainQueries
        .pagerankOf(tiny, maxIters = 10).collect())
      assert(fxLocal == fxDist)
      assert(graft.queries.ChainQueries.lastPagerankRounds.get == localRounds)
    } finally graft.queries.ChainQueries.prFinishCapOverride = None
  }

  test("fee percentiles: ordered, bracketed by the block min/max") {
    def lv(r: org.apache.spark.sql.Row, c: String): Long =
      r.getAs[Number](c).longValue
    val pct = graft.queries.ChainQueries
      .defs("chain_fee_percentiles")(spark, "/root/testdata/sf0.001")
      .collect().map(r => lv(r, "block_number") -> r).toMap
    val agg = graft.queries.ChainQueries
      .defs("chain_fee_analytics")(spark, "/root/testdata/sf0.001")
      .collect().map(r => lv(r, "block_number") -> r).toMap
    // percentiles cover only PRICED txs — a block whose every tx lacks
    // a gas price (possible in the synthetic fixture) appears in the
    // analytics rollup but not here
    assert(pct.nonEmpty && pct.keySet.subsetOf(agg.keySet))
    pct.foreach { case (bn, r) =>
      val (p25, p50, p75) = (lv(r, "p25_gas_price"),
        lv(r, "p50_gas_price"), lv(r, "p75_gas_price"))
      assert(p25 <= p50 && p50 <= p75)
      // agg's min/max ignore nulls, so they bracket the priced subset
      assert(p25 >= lv(agg(bn), "min_gas_price"))
      assert(p75 <= lv(agg(bn), "max_gas_price"))
      assert(lv(r, "n_txs") <= lv(agg(bn), "n_txs"))
    }
  }

  test("event counts: totals cover every topic-bearing log") {
    val rows = graft.queries.ChainQueries
      .defs("chain_event_counts")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val logs = spark.read.parquet(s"$dir/rpc_logs.parquet")
    val withTopics = logs.filter(org.apache.spark.sql.functions
      .size(org.apache.spark.sql.functions.col("topics")) >= 1).count()
    assert(rows.map(_.getAs[Long]("n_logs")).sum == withTopics)
    // the Transfer signature is among the selectors
    val transferHex = "0x" + graft.chain.GenFixtures.sigTransfer
      .map("%02x".format(_)).mkString
    assert(rows.exists(_.getAs[String]("topic0") == transferHex))
    rows.foreach(r => assert(r.getAs[Long]("n_contracts") >= 1))
  }

  test("factory stats: totals tie to the contracts silver") {
    val stats = graft.queries.ChainQueries
      .defs("chain_factory_stats")(spark, "/root/testdata/sf0.001").collect()
    val contracts = graft.chain.ChainDatasets
      .contracts(Bronze.dir(spark, dir)).collect()
    assert(stats.nonEmpty)
    assert(stats.map(_.getAs[Long]("n_contracts")).sum == contracts.length)
    stats.foreach { r =>
      assert(r.getAs[Long]("n_deployers") >= 1 &&
        r.getAs[Long]("n_deployers") <= r.getAs[Long]("n_contracts"))
      assert(r.getAs[Long]("n_distinct_codes") >= 1 &&
        r.getAs[Long]("n_distinct_codes") <= r.getAs[Long]("n_contracts"))
      assert(r.getAs[Number]("first_block").longValue <=
        r.getAs[Number]("last_block").longValue)
    }
  }

  test("erc20 net flows: conservation — every token's net sums to zero") {
    val rows = graft.queries.ChainQueries
      .defs("chain_erc20_net_flows")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    // transfers only move value: per token, holders' nets cancel and
    // inflow equals outflow. The PUBLISHED columns are double casts of
    // exact decimals — token amounts (~1e24, 18-decimals tokens) exceed
    // 2^53, so per-address rounding of up to a few hundred wei is
    // inherent to the published representation; conservation is asserted
    // relative to volume, and exactly on the integer transfer counts.
    rows.groupBy(_.getAs[String]("erc20")).values.foreach { g =>
      val in = g.map(r => BigDecimal(r.getAs[Double]("in_flow"))).sum
      val out = g.map(r => BigDecimal(r.getAs[Double]("out_flow"))).sum
      val net = g.map(r => BigDecimal(r.getAs[Double]("net_flow"))).sum
      assert(in > 0 && (net.abs / in) < BigDecimal("1e-12"))
      assert(((in - out).abs / in) < BigDecimal("1e-12"))
      assert(g.map(_.getAs[Long]("n_in")).sum == g.map(_.getAs[Long]("n_out")).sum)
    }
    // every transfer contributes exactly one in and one out leg
    val nXfers = graft.chain.ChainDatasets
      .erc20Transfers(Bronze.dir(spark, graft.queries.ChainQueries.FixDir),
        u256Reprs = Seq(graft.functions.U256.Binary)).count()
    assert(rows.map(_.getAs[Long]("n_in")).sum == nXfers)
    assert(rows.map(_.getAs[Long]("n_out")).sum == nXfers)
  }

  test("sandwich candidates: window query matches a brute-force triple scan") {
    def lv(r: org.apache.spark.sql.Row, c: String): Long =
      r.getAs[Number](c).longValue
    def hex(b: Array[Byte]) = "0x" + b.map("%02x".format(_)).mkString
    val txs = spark.read.parquet(s"$dir/rpc_transactions.parquet")
      .select("block_number", "transaction_index", "transaction_hash",
        "from_address", "to_address").collect()
    val expected = txs.groupBy(lv(_, "block_number")).flatMap { case (bn, rows) =>
      rows.sortBy(lv(_, "transaction_index")).sliding(3)
        .filter(_.length == 3).flatMap { w =>
          val Seq(a, v, b) = w.toSeq
          val af = a.getAs[Array[Byte]]("from_address").toSeq
          if (af == b.getAs[Array[Byte]]("from_address").toSeq &&
              af != v.getAs[Array[Byte]]("from_address").toSeq)
            Some((bn, lv(a, "transaction_index"),
              hex(v.getAs[Array[Byte]]("transaction_hash"))))
          else None
        }
    }.toSet
    val got = graft.queries.ChainQueries
      .defs("chain_sandwich_candidates")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (lv(r, "block_number"), lv(r, "front_index"),
        r.getAs[String]("victim_hash"))).toSet
    assert(got.nonEmpty && got == expected)
  }
}

package graft.queries

import graft.chain.{BlockSyntax, Bronze, Freeze, GenFixtures, Lake}
import graft.functions.U256
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-contract entries for the chain datasets (SURVEY §2.1), running
  * over the deterministic chain fixtures at fixtures/chain
  * (they ignore the sf dir — the chain tables are scale-independent).
  *
  * Oracle SQL reads the same parquet via read_parquet() with byte-level
  * blob slicing through hex/unhex (this DuckDB build lacks blob substring).
  * Columns DuckDB cannot express (keccak hashes, u256 decimal strings from
  * binary) are covered by ScalaTest specs instead and kept out of the
  * oracle-facing projections.
  */
object ChainQueries {
  type Q = (SparkSession, String) => DataFrame

  /** the checkout's fixtures: `fixtures/chain` under the working
    * directory, absolute because the oracle SQL reads it elsewhere */
  val FixDir: String = new java.io.File("fixtures/chain").getAbsolutePath

  /** Resolve the chain fixture dir for a testdata sf dir: an sf-scaled
    * variant (`fixtures/chain_sf0.1`, generated by GenFixtures with a
    * larger block count) when present — so the BENCH measures the
    * transforms at data scale — falling back to the canonical 60-block
    * FixDir that the static oracle SQL reads (the correctness gate's
    * sf0.001/sf0.01 have no scaled variant, keeping Spark and DuckDB on
    * identical inputs there). */
  def chainDir(sfDir: String): String = {
    val base = new java.io.File(sfDir).getName
    val cand = new java.io.File(s"fixtures/chain_$base")
    if (cand.isDirectory) cand.getAbsolutePath else FixDir
  }

  /** The sf dir the oracle SQL should resolve fixtures against. Verify
    * sets this from its CLI arg before dumping oracle_sql.json, so the
    * DuckDB side resolves through the SAME `chainDir` logic as the Spark
    * entries — a scaled `chain_<sf>` variant can never split the two
    * engines onto different inputs (VERDICT r2 #5). Unset (specs, REPL)
    * falls back to the canonical fixture dir. */
  @volatile private var oracleSfDir: Option[String] = None
  def setOracleSfDir(sfDir: String): Unit = oracleSfDir = Some(sfDir)

  private def rp(name: String) = {
    val dir = oracleSfDir.map(chainDir).getOrElse(FixDir)
    s"read_parquet('$dir/$name.parquet/*.parquet')"
  }

  /** byte-slice of a blob column in DuckDB SQL: 1-based offset/len */
  private def bs(c: String, off: Int, len: Int): String =
    s"unhex(substring(hex($c), ${2 * (off - 1) + 1}, ${2 * len}))"

  private val sigTransferHex = GenFixtures.sigTransfer.map("%02x".format(_)).mkString
  private val sigApprovalHex = GenFixtures.sigApproval.map("%02x".format(_)).mkString

  /** Oracle-facing projection: every binary column → '0x…' lowercase hex
    * string (cryo's ColumnEncoding::Hex). The driver's comparator converts
    * the DuckDB side to pandas, where raw BLOBs arrive as unhashable
    * bytearrays and crash its sort (VERDICT r1: 38 of the 41 chain entries
    * died this way). Raw-binary outputs stay covered by ScalaTest specs;
    * the driver gate compares the hex form on BOTH sides. */
  private def hexAll(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.BinaryType
    df.select(df.schema.fields.map { f =>
      if (f.dataType == BinaryType)
        graft.functions.HexCodec.toHex(col(f.name)).as(f.name)
      else col(f.name)
    }.toSeq: _*)
  }

  /** Binary output columns per oracle query (verified via DuckDB DESCRIBE
    * over every oracle) — drives the SELECT * REPLACE hex wrapper below so
    * the DuckDB side emits the same '0x…' strings as hexAll. */
  private val binCols: Map[String, Seq[String]] = Map(
    "chain_blocks" -> Seq("block_hash", "parent_hash", "author", "extra_data"),
    "chain_lake_read" -> Seq("block_hash", "parent_hash", "author", "extra_data"),
    "chain_lake_read_csv" -> Seq("block_hash", "parent_hash", "author", "extra_data"),
    "chain_lake_read_json" -> Seq("block_hash", "parent_hash", "author", "extra_data"),
    "chain_transactions" -> Seq("transaction_hash", "from_address", "to_address", "value"),
    "chain_transactions_exclude_failed" -> Seq("transaction_hash"),
    "chain_logs" -> Seq("transaction_hash", "address", "topic0", "topic1", "topic2", "topic3", "data"),
    "chain_logs_decoded" -> Seq("transaction_hash", "address", "topic0", "event__from", "event__to", "event__value_binary"),
    "chain_erc20_transfers" -> Seq("transaction_hash", "erc20", "from_address", "to_address", "value_binary"),
    "chain_erc20_approvals" -> Seq("transaction_hash", "erc20", "from_address", "to_address", "value_binary"),
    "chain_erc721_transfers" -> Seq("transaction_hash", "erc721", "from_address", "to_address", "token_id_binary"),
    "chain_traces" -> Seq("action_from", "action_to", "action_input", "action_init", "result_output", "result_code", "result_address", "transaction_hash"),
    "chain_traces_exclude_failed" -> Seq("transaction_hash"),
    "chain_native_transfers" -> Seq("transaction_hash", "from_address", "to_address"),
    "chain_contracts" -> Seq("transaction_hash", "contract_address", "deployer", "factory"),
    "chain_four_byte_counts" -> Seq("transaction_hash", "signature"),
    "chain_address_appearances" -> Seq("transaction_hash", "address"),
    "chain_balances" -> Seq("address", "balance_binary"),
    "chain_nonces" -> Seq("address"),
    "chain_slots" -> Seq("address", "slot", "value_binary"),
    "chain_storage_diffs" -> Seq("transaction_hash", "address", "slot", "from_value_binary", "to_value_binary"),
    "chain_eth_calls" -> Seq("contract_address", "call_data", "output_data"),
    "chain_balance_diffs" -> Seq("transaction_hash", "address", "from_value_binary", "to_value_binary"),
    "chain_nonce_diffs" -> Seq("transaction_hash", "address"),
    "chain_code_diffs" -> Seq("transaction_hash", "address", "from_value", "to_value"),
    "chain_codes" -> Seq("address", "code"),
    "chain_vm_traces" -> Seq("push", "mem_data", "storage_key", "storage_val"),
    "chain_geth_calls" -> Seq("from_address", "to_address", "value_binary", "input", "output"),
    "chain_js_traces" -> Seq("transaction_hash"),
    "chain_trace_calls" -> Seq("contract_address", "tx_call_data", "action_from", "action_to", "action_input"),
    "chain_balance_reads" -> Seq("transaction_hash", "address", "balance_binary"),
    "chain_nonce_reads" -> Seq("transaction_hash", "address"),
    "chain_code_reads" -> Seq("transaction_hash", "address", "code"),
    "chain_storage_reads" -> Seq("transaction_hash", "address", "slot", "value"),
    "chain_erc721_metadata" -> Seq("erc721"),
    "chain_geth_balance_diffs" -> Seq("transaction_hash", "address", "from_value_binary", "to_value_binary"),
    "chain_geth_storage_diffs" -> Seq("transaction_hash", "address", "slot", "from_value_binary", "to_value_binary"),
    "chain_geth_nonce_diffs" -> Seq("transaction_hash", "address"),
    "chain_geth_code_diffs" -> Seq("transaction_hash", "address", "from_value", "to_value"),
    "chain_erc20_metadata" -> Seq("erc20"),
    "chain_erc20_supplies" -> Seq("erc20", "total_supply_binary"),
    "chain_erc20_balances" -> Seq("erc20", "address", "balance_binary"),
    "chain_pagerank" -> Seq("address"),
    "chain_address_profile" -> Seq("address"),
    "chain_sandwich_candidates" -> Seq("attacker", "victim_hash"),
    "chain_erc20_net_flows" -> Seq("erc20", "address"),
    "chain_event_counts" -> Seq("topic0"),
    "chain_factory_stats" -> Seq("factory")
  )

  private def hexWrap(name: String, sql: String): String =
    binCols.get(name) match {
      case Some(cols) =>
        val rep = cols.map(c => s"'0x' || lower(hex($c)) AS $c").mkString(", ")
        s"SELECT * REPLACE ($rep) FROM (\n$sql\n) hx"
      case None => sql
    }

  /** Integer-grid PageRank over the distinct (from, to) transaction
    * edge set — address importance, the beyond-reference on-chain graph
    * analytic next to chain_fee_analytics. Iterative whole-graph
    * propagation in the clustersOf mold: each round is one join+groupBy
    * over the edge relation, O(iters) rounds, no driver-side iteration
    * over data (the only scalar is the bounded node count). All rank
    * arithmetic lives on a 2^30 integer grid — contributions are exact
    * long divisions summed with exact long addition — so the fixpoint
    * is bit-identical in any engine and under any partitioning (the
    * same determinism discipline as the k-means/PQ Lloyd steps).
    * Damping 0.85 as integer multiply/divide; dangling mass is dropped
    * (deterministic, mirrored in the oracle). At 100 TB: edges are
    * distinct-reduced before anything iterates, per-round lineage is
    * cut, and the join key (src address) hash-partitions the graph —
    * the standard distributed PageRank shape.
    *
    * `checkpointDir`: None (default) truncates per-round lineage via
    * localCheckpoint — executor-storage only, fastest single-node. On a
    * real cluster an executor loss mid-loop kills the job under
    * localCheckpoint, so pass a reliable dir (HDFS/object store) to
    * swap in fault-tolerant `checkpoint` — same ranks, bit-identical
    * (the clustersOf discipline, TextOps.scala).
    *
    * Convergence: the integer grid makes the fixpoint EXACT — once no
    * node's rank_q moves between rounds, no later round can move it
    * (every input to round k+1 is identical to round k's). Each round
    * piggybacks a changed-rank count on its lineage-cut action
    * (CollectMetrics — zero extra jobs) and the loop exits at the
    * first all-zero round. `maxIters` stays the oracle-mirrored bound:
    * early exit is hash-safe by construction, never hash-changing. */
  /** rounds actually executed by the last pagerankOf call — lets the
    * convergence spec observe the early exit without extra jobs */
  private[graft] val lastPagerankRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Driver finish cap for pagerankOf (r17, VERDICT r16 item 5 — the
    * clustersOf pattern): once the distinct edge set fits this many
    * rows, ONE bounded collect + an exact local replay of the
    * integer-grid rounds replaces every distributed round (each of
    * which paid a checkpoint action + 2 joins of fixed job cost —
    * dominant at small scale, irrelevant at 100 TB where the edge set
    * exceeds the cap and the distributed loop runs as before). The
    * collect is limit-bounded BEFORE the size check — an over-cap graph
    * costs one truncated read, never a driver OOM. Bit-equal output by
    * construction: the local loop reproduces the exact long-division /
    * teleport algebra (`rank_q div outdeg`, `(in_q*85) div 100` — all
    * operands non-negative, so Scala `/` ≡ Spark `div`), the same
    * convergence rule (stop when no rank_q changed), and exact long
    * sums (addition order irrelevant). Spec-pinned across the seam. */
  val PrFinishEdgeCap: Int = 1 << 16
  /** test seam: force the distributed route (Some(0)) or an early
    * finish to pin bit-equality across the routes */
  @volatile private[graft] var prFinishCapOverride: Option[Int] = None
  private def prFinishCap: Int = prFinishCapOverride.getOrElse(PrFinishEdgeCap)

  /** exact local pagerank over a collected edge list — same algebra as
    * the distributed loop (see PrFinishEdgeCap). Returns (address,
    * rank_q) rows + the number of rounds executed. */
  private def driverPagerank(edgeList: Array[(Any, Any)], maxIters: Int,
      grid: Long): (Array[(Any, Long)], Int) = {
    import scala.collection.immutable.ArraySeq
    import scala.collection.mutable
    // binary addresses need a hashable key; keep the original value for
    // the output rows
    def k(v: Any): Any = v match {
      case a: Array[Byte] => ArraySeq.unsafeWrapArray(a)
      case x => x
    }
    val orig = mutable.HashMap.empty[Any, Any]
    val keyed = edgeList.map { case (s, d) =>
      val ks = k(s); val kd = k(d)
      orig.getOrElseUpdate(ks, s); orig.getOrElseUpdate(kd, d)
      (ks, kd)
    }
    val nodes: Array[Any] =
      keyed.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    val n = nodes.length.toLong
    val baseQ = (grid * 15L) / (100L * n)
    val outdeg = mutable.HashMap.empty[Any, Long]
    keyed.foreach { case (s, _) =>
      outdeg.update(s, outdeg.getOrElse(s, 0L) + 1L) }
    var rank = mutable.HashMap.empty[Any, Long]
    nodes.foreach(v => rank.update(v, grid / n))
    var round = 0
    var converged = false
    while (round < maxIters && !converged) {
      val in = mutable.HashMap.empty[Any, Long]
      keyed.foreach { case (s, d) =>
        in.update(d, in.getOrElse(d, 0L) + rank(s) / outdeg(s)) }
      val next = mutable.HashMap.empty[Any, Long]
      var changed = 0L
      nodes.foreach { v =>
        val nr = baseQ + (in.getOrElse(v, 0L) * 85L) / 100L
        if (nr != rank(v)) changed += 1L
        next.update(v, nr)
      }
      rank = next
      round += 1
      converged = changed == 0L
    }
    (nodes.map(v => (orig(v), rank(v))), round)
  }

  def pagerankOf(txs: DataFrame, maxIters: Int = 3,
      checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Observation
    val Grid = 1073741824L // 2^30
    checkpointDir.foreach(txs.sparkSession.sparkContext.setCheckpointDir)
    // r17: same constraint/stats barrier as clustersOf — each round's
    // plan embeds the previous checkpoint, so carried constraint sets
    // and multiplied sizeInBytes stats would compound per round (see
    // GraftSql.constraintBarrier; bounded here at maxIters but the
    // barrier keeps the per-round cost flat by construction)
    def cut(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftSql.constraintBarrier(
        if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint())
    val edgesPlan = txs
      .select(col("from_address").as("src"), col("to_address").as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
      .distinct()
    // r17 driver finish: a bounded peek at the distinct edge set — at
    // or under the cap the whole graph fits the driver and one exact
    // local replay of the rounds replaces every per-round checkpoint
    // job; over it, the truncated read cost one small scan and the
    // distributed loop proceeds unchanged.
    val head = edgesPlan.limit(prFinishCap + 1).collect()
    if (head.nonEmpty && head.length <= prFinishCap) {
      val (ranks, rounds) = driverPagerank(
        head.map(r => (r.get(0), r.get(1))), maxIters, Grid)
      lastPagerankRounds.set(rounds)
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("address", edgesPlan.schema("src").dataType,
          nullable = true),
        StructField("rank_q", LongType, nullable = false)))
      val rows = ranks.map { case (a, q) => Row(a, q) }.toSeq
      return txs.sparkSession.createDataFrame(rows.asJava, schema)
        .withColumn("rank", col("rank_q").cast("double") / Grid)
    }
    val edges = cut(edgesPlan)
    val nodes = cut(edges.select(col("src").as("address"))
      .union(edges.select(col("dst").as("address"))).distinct())
    val n = nodes.count()
    // an EMPTY edge set (every to_address null / self-send / no rows)
    // has no ranks — return the empty table with the output schema
    // instead of dividing the teleport grid by zero
    if (n == 0L) {
      lastPagerankRounds.set(0)
      return nodes.select(col("address"), lit(0L).as("rank_q"))
        .withColumn("rank", col("rank_q").cast("double") / Grid)
    }
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val baseQ = (Grid * 15L) / (100L * n)
    var ranks = nodes.select(col("address"), lit(Grid / n).as("rank_q"))
    var round = 0
    var converged = false
    while (round < maxIters && !converged) {
      val obs = Observation()
      val sums = ranks.join(edges, col("address") === col("src"))
        .join(outdeg, "src")
        .select(col("dst"), expr("rank_q div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_q"))
      val next = ranks
        .withColumnRenamed("rank_q", "prev_q")
        .join(sums, col("address") === col("dst"), "left")
        .select(col("address"), col("prev_q"),
          (lit(baseQ) + expr("(coalesce(in_q, 0L) * 85L) div 100L")).as("rank_q"))
        .observe(obs, sum(when(col("rank_q") =!= col("prev_q"), 1L)
          .otherwise(0L)).as("n_changed"))
        .select("address", "rank_q")
      ranks = cut(next) // the round's single action; fills obs
      converged = (obs.get("n_changed") match {
        case null => 0L // empty graph
        case l: java.lang.Long => l.longValue
      }) == 0L
      round += 1
    }
    lastPagerankRounds.set(round)
    ranks.withColumn("rank", col("rank_q").cast("double") / Grid)
  }

  /** memoized per-(fixture-dir, format) frozen lake for the read-back
    * queries: one freeze per process (idempotent-skip makes races
    * harmless — a second caller finds the files and skips), served to
    * every later run. */
  private val lakeDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def lakeDirFor(s: SparkSession, fixDir: String,
      format: String = "parquet"): String =
    lakeDirs.computeIfAbsent(s"$fixDir|$format", _ => {
      val out = java.nio.file.Files.createTempDirectory("graft_lake_").toString
      Freeze.freeze(s, fixDir, Freeze.FreezeSpec(
        datasets = Seq("blocks"), blocks = BlockSyntax.Range(1000, 1060),
        chunkSize = 10, outputDir = out, format = format, noReport = true,
        maxConcurrentChunks = 1))
      out
    })

  /** the hex-projected blocks-silver schema a csv/json lake carries
    * (freeze hexifies binary columns for those formats) — the explicit
    * schema pipelines must pass to Lake.read, csv/json can't self-type.
    * Memoized per fixture dir: the derivation reads the rpc_blocks
    * footer and re-analyzes the hexify projection, which has no place
    * on the bench hot path for a constant-per-dir value. */
  private val hexBlocksSchemas =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]
  private def hexBlocksSchema(s: SparkSession, fixDir: String) =
    hexBlocksSchemas.computeIfAbsent(fixDir, _ =>
      Freeze.collect(Bronze.dir(s, fixDir), "blocks", BlockSyntax.Range(1000, 1001),
        hex = true).schema)

  /** a chain dataset over the fixture bronze of a testdata sf dir, built
    * as every output builds it (Freeze.build) */
  private def silver(s: SparkSession, sfDir: String, dataset: String,
      o: Freeze.BuildOptions = Freeze.BuildOptions()): DataFrame =
    Freeze.build(dataset, o)(Bronze.dir(s, chainDir(sfDir)))

  private val binary = Freeze.BuildOptions(u256Reprs = Seq(U256.Binary))

  private val rawDefs: Map[String, Q] = Map(
    // Frozen-lake read-back — freeze the fixture blocks into a 6-chunk
    // cryo-named lake (once per process), then scan a SUB-range back
    // through Lake.read: the filename ranges prune the scan to the 4
    // overlapping files at PLANNING time (no footers opened) and the
    // residual block filter pushes into parquet row-group stats. The
    // oracle reads the ORIGINAL bronze over the same range, so a pass
    // proves freeze → lake → prune → scan is lossless end to end.
    "chain_lake_read" -> { (s, d) =>
      Lake.read(s, lakeDirFor(s, chainDir(d)), "blocks",
        Some(BlockSyntax.Range(1015, 1045)))
    },
    // Same read-back contract for the csv and json freeze formats: the
    // chunk files carry hexified binaries and no embedded types, so the
    // read goes through the explicit registry-derived schema (the
    // pipeline path). The oracle reads the ORIGINAL bronze with the hex
    // wrapper — a pass proves freeze→lake→prune→scan is lossless for
    // every sink format, not just parquet.
    "chain_lake_read_csv" -> { (s, d) =>
      Lake.read(s, lakeDirFor(s, chainDir(d), "csv"), "blocks",
        Some(BlockSyntax.Range(1015, 1045)),
        schema = Some(hexBlocksSchema(s, chainDir(d))))
    },
    "chain_lake_read_json" -> { (s, d) =>
      Lake.read(s, lakeDirFor(s, chainDir(d), "json"), "blocks",
        Some(BlockSyntax.Range(1015, 1045)),
        schema = Some(hexBlocksSchema(s, chainDir(d))))
    },
    "chain_pagerank" -> { (s, d) =>
      pagerankOf(s.read.parquet(s"${chainDir(d)}/rpc_transactions.parquet"))
    },
    // Same-sender bracketing (sandwich-candidate) detection — the MEV
    // audit shape: within a block, one sender's txs at positions i and
    // i+2 bracket a DIFFERENT sender's tx at i+1. Detection is a pair
    // of window lead()s over (block, index order) — ONE shuffle on the
    // block key (a block is bounded at a few hundred txs, so per-block
    // ordered scans parallelize trivially at 100 TB), no self-join.
    // The same-target test (front and back hitting the same contract —
    // the pool in a real sandwich) is a VERDICT column, not a filter:
    // candidate quality is graded from the audit column downstream.
    "chain_sandwich_candidates" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("block_number").orderBy("transaction_index")
      s.read.parquet(s"${chainDir(d)}/rpc_transactions.parquet")
        .select(col("block_number"), col("transaction_index"),
          col("transaction_hash"), col("from_address"), col("to_address"))
        .withColumn("v_from", lead("from_address", 1).over(w))
        .withColumn("v_idx", lead("transaction_index", 1).over(w))
        .withColumn("v_hash", lead("transaction_hash", 1).over(w))
        .withColumn("b_from", lead("from_address", 2).over(w))
        .withColumn("b_idx", lead("transaction_index", 2).over(w))
        .withColumn("b_to", lead("to_address", 2).over(w))
        .filter(col("from_address") === col("b_from") &&
          col("from_address") =!= col("v_from"))
        .select(col("block_number"),
          col("from_address").as("attacker"),
          col("transaction_index").as("front_index"),
          col("v_idx").as("victim_index"),
          col("b_idx").as("back_index"),
          col("v_hash").as("victim_hash"),
          (col("to_address") === col("b_to")).as("same_target"))
    },
    // Address activity profile — the per-address rollup (sent/received
    // counts, first/last seen block) behind wallet analytics and entity
    // labeling. One union of two skinny projections off the same scan,
    // one groupBy on the address key; at 100 TB the address hash
    // partitioning carries it with map-side partial aggregation.
    "chain_address_profile" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      val txs = s.read.parquet(s"${chainDir(d)}/rpc_transactions.parquet")
      // r17 (guide §6 read-once): the sent/recv legs were two scans of
      // the same table unioned — one exploded struct array per row now
      // feeds the aggregate from a single scan. Pre-agg row multiset
      // identical (the recv leg appears only when to_address is set,
      // the old filter).
      def side(addr: org.apache.spark.sql.Column,
          sent: Long): org.apache.spark.sql.Column =
        struct(addr.as("address"), lit(sent).as("sent"),
          lit(1L - sent).as("recv"))
      txs.select(col("block_number"), explode(
          when(col("to_address").isNotNull, array(
            side(col("from_address"), 1L), side(col("to_address"), 0L)))
          .otherwise(array(side(col("from_address"), 1L)))).as("leg"))
        .select(col("leg.address").as("address"), col("block_number"),
          col("leg.sent").as("sent"), col("leg.recv").as("recv"))
        .groupBy("address").agg(
        sum(col("sent")).as("n_sent"), sum(col("recv")).as("n_recv"),
        min(col("block_number")).as("first_block"),
        max(col("block_number")).as("last_block"))
    },
    "chain_blocks" -> ((s, d) => silver(s, d, "blocks")),
    "chain_transactions" -> { (s, d) =>
      silver(s, d, "transactions").select(
        "block_number", "transaction_index", "transaction_hash",
        "from_address", "to_address", "value", "gas_limit", "gas_used",
        "gas_price", "transaction_type", "success", "n_input_bytes",
        "n_input_zero_bytes", "chain_id")
    },
    "chain_transactions_exclude_failed" -> { (s, d) =>
      silver(s, d, "transactions", Freeze.BuildOptions(excludeFailed = true))
        .select("block_number", "transaction_index", "transaction_hash",
          "success", "gas_price", "chain_id")
    },
    // Beyond-reference composition: per-block fee economics rolled up
    // over the transactions SILVER (EIP-1559 effective price and receipt
    // gas included) — the analytics layer cryo users currently export to
    // another engine for. Fee totals multiply in the DECIMAL domain
    // (gas·price ≈ 1e17 per tx — a long sum would overflow at real
    // scale, and DuckDB errors on bigint overflow where Spark wraps).
    "chain_fee_analytics" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      silver(s, d, "transactions")
        .groupBy("block_number")
        .agg(count(lit(1)).as("n_txs"),
          sum(when(col("success"), 1L).otherwise(0L)).as("n_success"),
          sum(col("gas_used")).as("total_gas_used"),
          sum(col("gas_used").cast("decimal(18,0)") *
            col("gas_price").cast("decimal(18,0)"))
            .cast("decimal(38,0)").cast("double").as("total_fees"),
          min(col("gas_price")).as("min_gas_price"),
          max(col("gas_price")).as("max_gas_price"))
    },
    // Per-block fee percentiles — the EIP-1559 fee-oracle table (what a
    // wallet's "slow / normal / fast" suggestion reads): exact
    // nearest-rank p25/p50/p75 of the EFFECTIVE gas price within each
    // block. Exact ranks, not approx_percentile: the nearest-rank pick
    // ((n−1)·p div 100, integer arithmetic) is deterministic and
    // hash-portable where t-digest sketches are not. ONE shuffle on the
    // block key; blocks are bounded (a few hundred txs) so the
    // per-block sort is trivially parallel — the sandwich-detection
    // partitioning discipline.
    "chain_fee_percentiles" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val ranked = silver(s, d, "transactions")
        .select("block_number", "transaction_index", "gas_price")
        .filter(col("gas_price").isNotNull)
        .withColumn("rn", row_number().over(Window.partitionBy("block_number")
          .orderBy(col("gas_price"), col("transaction_index"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("block_number")))
      def pick(p: Int) = max(when(
        col("rn") === expr(s"(n - 1) * $p div 100") + 1, col("gas_price")))
      ranked.groupBy("block_number")
        .agg(max(col("n")).as("n_txs"),
          pick(25).as("p25_gas_price"),
          pick(50).as("p50_gas_price"),
          pick(75).as("p75_gas_price"))
    },
    // Factory analytics — per direct creator (the CREATE frame's
    // caller, which differs from the tx-level deployer for contracts
    // spawned BY contracts): how many contracts, how many distinct
    // tx-level deployers drove it, how many distinct bytecodes it
    // produced (a clone/proxy factory stamps one), and its active
    // block range. One groupBy over the contracts silver with
    // map-side partials; distinct counts expand to the two-level
    // aggregates Catalyst plans itself.
    "chain_factory_stats" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      silver(s, d, "contracts")
        .groupBy(col("factory"))
        .agg(count(lit(1)).as("n_contracts"),
          countDistinct(col("deployer")).as("n_deployers"),
          countDistinct(col("code")).as("n_distinct_codes"),
          min(col("block_number")).as("first_block"),
          max(col("block_number")).as("last_block"))
    },
    // Event-selector histogram — the LOG-side sibling of the
    // reference's four_byte_counts (tx calldata selectors): which event
    // signatures fire how often, over how many distinct contracts. One
    // groupBy on topic0 with map-side partials; count_distinct expands
    // to a two-level aggregate Catalyst plans itself.
    "chain_event_counts" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      s.read.parquet(s"${chainDir(d)}/rpc_logs.parquet")
        .filter(size(col("topics")) >= 1)
        .select(element_at(col("topics"), 1).as("topic0"), col("address"))
        .groupBy("topic0")
        .agg(count(lit(1)).as("n_logs"),
          countDistinct(col("address")).as("n_contracts"))
    },
    // ERC20 net-flow ledger — per (token, holder) inflow/outflow/net
    // derived from the TRANSFER stream (the event-sourced sibling of
    // chain_erc20_balances' eth_call snapshots: one audits the other).
    // Values convert binary→Decimal128 ONCE at the scan (U256ToDecimal
    // — the reference declares this type but errors on it) and every
    // sum stays in the exact DECIMAL domain; only the final published
    // columns cast to double (both engines cast the same exact decimal,
    // the fee-analytics discipline). Union of two skinny projections
    // off one scan, one groupBy on (token, address) — map-side partial
    // aggregation carries it at 100 TB, the address_profile shape.
    "chain_erc20_net_flows" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.GraftSql
      val t = silver(s, d, "erc20_transfers", binary)
        .select(col("erc20"), col("from_address"), col("to_address"),
          GraftSql.column(graft.functions.U256ToDecimal(
            GraftSql.expression(col("value_binary")))).as("v"))
      val zero = lit(0).cast("decimal(38,0)")
      // r17 (guide §6 read-once): out/in legs were two scans of the
      // transfer stream unioned — one exploded 2-struct array per row
      // now feeds the aggregate from a single scan (pre-agg row
      // multiset identical; both legs were unconditional).
      t.select(col("erc20"), explode(array(
          struct(col("from_address").as("address"),
            col("v").as("out_v"), zero.as("in_v"),
            lit(1L).as("n_out"), lit(0L).as("n_in")),
          struct(col("to_address").as("address"),
            zero.as("out_v"), col("v").as("in_v"),
            lit(0L).as("n_out"), lit(1L).as("n_in")))).as("leg"))
        .select(col("erc20"), col("leg.address").as("address"),
          col("leg.out_v").as("out_v"), col("leg.in_v").as("in_v"),
          col("leg.n_out").as("n_out"), col("leg.n_in").as("n_in"))
        .groupBy("erc20", "address")
        .agg(sum(col("n_in")).as("n_in"), sum(col("n_out")).as("n_out"),
          sum(col("in_v")).cast("decimal(38,0)").cast("double").as("in_flow"),
          sum(col("out_v")).cast("decimal(38,0)").cast("double").as("out_flow"),
          (sum(col("in_v")) - sum(col("out_v")))
            .cast("decimal(38,0)").cast("double").as("net_flow"))
    },
    "chain_logs" -> ((s, d) => silver(s, d, "logs")),
    "chain_logs_decoded" -> { (s, d) =>
      silver(s, d, "logs", binary.copy(eventSignature =
        Some("Transfer(address indexed from, address indexed to, uint256 value)")))
    },
    "chain_erc20_transfers" -> ((s, d) => silver(s, d, "erc20_transfers", binary)),
    // hex output mode (--hex / CSV coupling): binary → 0x-prefixed strings
    "chain_logs_hex" -> { (s, d) =>
      import org.apache.spark.sql.types.BinaryType
      val df = silver(s, d, "logs")
      df.select(df.schema.fields.map { f =>
        if (f.dataType == BinaryType)
          graft.functions.HexCodec.toHex(org.apache.spark.sql.functions.col(f.name)).as(f.name)
        else org.apache.spark.sql.functions.col(f.name)
      }.toSeq: _*)
    },
    "chain_erc20_approvals" -> ((s, d) => silver(s, d, "erc20_approvals", binary)),
    "chain_erc721_transfers" -> ((s, d) => silver(s, d, "erc721_transfers", binary)),
    "chain_traces" -> ((s, d) => silver(s, d, "traces")),
    "chain_traces_exclude_failed" -> ((s, d) =>
      silver(s, d, "traces", Freeze.BuildOptions(excludeFailed = true))

        .select("block_number", "transaction_index", "transaction_hash",
          "trace_address", "action_type", "error", "chain_id")),
    "chain_native_transfers" -> ((s, d) =>
      silver(s, d, "native_transfers",
        Freeze.BuildOptions(u256Reprs = Seq(U256.Str)))),
    "chain_contracts" -> ((s, d) =>
      silver(s, d, "contracts")
        .select("block_number", "create_index", "transaction_hash",
          "contract_address", "deployer", "factory", "n_init_code_bytes",
          "n_code_bytes", "chain_id")),
    "chain_four_byte_counts" -> ((s, d) => silver(s, d, "four_byte_counts")),
    "chain_address_appearances" -> ((s, d) => silver(s, d, "address_appearances")),
    "chain_balances" -> ((s, d) => silver(s, d, "balances", binary)),
    "chain_nonces" -> ((s, d) => silver(s, d, "nonces")),
    "chain_slots" -> ((s, d) => silver(s, d, "slots", binary)),
    "chain_storage_diffs" -> ((s, d) => silver(s, d, "storage_diffs", binary)),
    "chain_eth_calls" -> ((s, d) => silver(s, d, "eth_calls")),
    "chain_balance_diffs" -> ((s, d) => silver(s, d, "balance_diffs", binary)),
    "chain_nonce_diffs" -> ((s, d) => silver(s, d, "nonce_diffs")),
    "chain_code_diffs" -> ((s, d) => silver(s, d, "code_diffs")),
    "chain_codes" -> ((s, d) => silver(s, d, "codes")),
    "chain_vm_traces" -> ((s, d) => silver(s, d, "vm_traces")),
    "chain_geth_opcodes" -> ((s, d) => silver(s, d, "geth_opcodes")),
    "chain_geth_calls" -> ((s, d) => silver(s, d, "geth_calls", binary)),
    "chain_js_traces" -> { (s, d) =>
      import org.apache.spark.sql.functions.{col, get_json_object}
      silver(s, d, "javascript_traces")
        .withColumn("gas_used", get_json_object(col("output"), "$.gasUsed").cast("long"))
    },
    "chain_trace_calls" -> ((s, d) => silver(s, d, "trace_calls")),
    "chain_balance_reads" -> ((s, d) => silver(s, d, "balance_reads", binary)),
    "chain_nonce_reads" -> ((s, d) => silver(s, d, "nonce_reads")),
    "chain_code_reads" -> ((s, d) => silver(s, d, "code_reads")),
    "chain_storage_reads" -> ((s, d) => silver(s, d, "storage_reads")),
    "chain_erc721_metadata" -> ((s, d) => silver(s, d, "erc721_metadata")),
    "chain_geth_balance_diffs" -> ((s, d) => silver(s, d, "geth_balance_diffs", binary)),
    "chain_geth_storage_diffs" -> ((s, d) => silver(s, d, "geth_storage_diffs", binary)),
    "chain_geth_nonce_diffs" -> ((s, d) => silver(s, d, "geth_nonce_diffs")),
    "chain_geth_code_diffs" -> ((s, d) => silver(s, d, "geth_code_diffs")),
    "chain_erc20_metadata" -> ((s, d) => silver(s, d, "erc20_metadata")),
    "chain_erc20_supplies" -> ((s, d) => silver(s, d, "erc20_supplies", binary)),
    "chain_erc20_balances" -> ((s, d) => silver(s, d, "erc20_balances", binary))
  )

  /** driver-facing entries: raw transforms behind the comparator-safe hex
    * projection (a no-op for entries with no binary output, e.g.
    * chain_logs_hex / chain_geth_opcodes). */
  val defs: Map[String, Q] = rawDefs.map { case (k, f) =>
    k -> ((s: SparkSession, d: String) => hexAll(f(s, d)))
  }

  // def, not val: the SQL re-interpolates rp()'s fixture dir so it
  // tracks setOracleSfDir (accessed once per Verify run — cost is nil).
  /** the transactions SILVER in SQL — shared by the chain_transactions
    * oracle and the fee-analytics rollup's CTE */
  private def txSilverSql: String =
    s"""SELECT t.block_number, t.transaction_index, t.transaction_hash,
      | t.from_address, t.to_address, t.value, t.gas_limit,
      | r.gas_used AS gas_used,
      | CASE WHEN t.transaction_type = 2
      |      THEN b.base_fee_per_gas + least(t.max_priority_fee_per_gas,
      |             t.max_fee_per_gas - b.base_fee_per_gas)
      |      ELSE t.gas_price END AS gas_price,
      | t.transaction_type, r.status = 1 AS success,
      | octet_length(t.input) AS n_input_bytes,
      | CAST(len(list_filter(range(0, octet_length(t.input)),
      |   i -> substring(hex(t.input), 2*i + 1, 2) = '00')) AS INT)
      |   AS n_input_zero_bytes,
      | t.chain_id
      |FROM ${rp("rpc_transactions")} t
      |JOIN ${rp("rpc_receipts")} r USING (transaction_hash)
      |JOIN ${rp("rpc_blocks")} b ON t.block_number = b.block_number""".stripMargin

  /** one unrolled PageRank round in SQL — same integer grid as
    * pagerankOf: exact long division per contribution, exact long sums */
  private def prRound(i: Int): String = {
    val g = 1073741824L
    s"""s$i AS (
       | SELECT e.dst AS address, sum(p.rank_q // od.outdeg) AS in_q
       | FROM r${i - 1} p JOIN e ON e.src = p.address JOIN od ON od.src = e.src
       | GROUP BY e.dst),
       |r$i AS (
       | SELECT nd.address,
       |  CAST((CAST($g AS BIGINT) * 15) // (100 * (SELECT n FROM nn)) +
       |    (coalesce(s$i.in_q, 0) * 85) // 100 AS BIGINT) AS rank_q
       | FROM nodes nd LEFT JOIN s$i USING (address))"""
  }

  private def rawOracles: Map[String, String] = Map(
    "chain_address_profile" ->
      s"""WITH u AS (
        | SELECT from_address AS address, block_number, 1 AS sent, 0 AS recv
        | FROM ${rp("rpc_transactions")}
        | UNION ALL
        | SELECT to_address, block_number, 0, 1
        | FROM ${rp("rpc_transactions")} WHERE to_address IS NOT NULL)
        |SELECT address, CAST(sum(sent) AS BIGINT) AS n_sent,
        | CAST(sum(recv) AS BIGINT) AS n_recv,
        | min(block_number) AS first_block, max(block_number) AS last_block
        |FROM u GROUP BY address""".stripMargin,
    "chain_pagerank" ->
      s"""WITH e AS (
        | SELECT DISTINCT from_address AS src, to_address AS dst
        | FROM ${rp("rpc_transactions")}
        | WHERE to_address IS NOT NULL AND from_address <> to_address),
        |nodes AS (SELECT src AS address FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT address, 1073741824 // (SELECT n FROM nn) AS rank_q
        |       FROM nodes),
        |${prRound(1)},
        |${prRound(2)},
        |${prRound(3)}
        |SELECT address, rank_q,
        | CAST(rank_q AS DOUBLE) / 1073741824 AS rank
        |FROM r3""".stripMargin,
    "chain_sandwich_candidates" ->
      s"""WITH led AS (
        | SELECT block_number, transaction_index, transaction_hash,
        |  from_address, to_address,
        |  lead(from_address, 1) OVER w AS v_from,
        |  lead(transaction_index, 1) OVER w AS v_idx,
        |  lead(transaction_hash, 1) OVER w AS v_hash,
        |  lead(from_address, 2) OVER w AS b_from,
        |  lead(transaction_index, 2) OVER w AS b_idx,
        |  lead(to_address, 2) OVER w AS b_to
        | FROM ${rp("rpc_transactions")}
        | WINDOW w AS (PARTITION BY block_number ORDER BY transaction_index))
        |SELECT block_number, from_address AS attacker,
        | transaction_index AS front_index, v_idx AS victim_index,
        | b_idx AS back_index, v_hash AS victim_hash,
        | (to_address = b_to) AS same_target
        |FROM led
        |WHERE from_address = b_from AND from_address <> v_from""".stripMargin,
    "chain_blocks" ->
      s"""SELECT block_number, block_hash, parent_hash, author, gas_used,
        | gas_limit, extra_data, timestamp, difficulty, size,
        | base_fee_per_gas, chain_id
        |FROM ${rp("rpc_blocks")}""".stripMargin,
    "chain_lake_read" ->
      s"""SELECT block_number, block_hash, parent_hash, author, gas_used,
        | gas_limit, extra_data, timestamp, difficulty, size,
        | base_fee_per_gas, chain_id
        |FROM ${rp("rpc_blocks")}
        |WHERE block_number >= 1015 AND block_number < 1045""".stripMargin,
    "chain_lake_read_csv" ->
      s"""SELECT block_number, block_hash, parent_hash, author, gas_used,
        | gas_limit, extra_data, timestamp, difficulty, size,
        | base_fee_per_gas, chain_id
        |FROM ${rp("rpc_blocks")}
        |WHERE block_number >= 1015 AND block_number < 1045""".stripMargin,
    "chain_lake_read_json" ->
      s"""SELECT block_number, block_hash, parent_hash, author, gas_used,
        | gas_limit, extra_data, timestamp, difficulty, size,
        | base_fee_per_gas, chain_id
        |FROM ${rp("rpc_blocks")}
        |WHERE block_number >= 1015 AND block_number < 1045""".stripMargin,
    "chain_transactions" -> txSilverSql,
    "chain_fee_percentiles" ->
      s"""WITH ranked AS (
        | SELECT block_number, gas_price,
        |  row_number() OVER (PARTITION BY block_number
        |    ORDER BY gas_price, transaction_index) AS rn,
        |  count(*) OVER (PARTITION BY block_number) AS n
        | FROM ($txSilverSql) t WHERE gas_price IS NOT NULL)
        |SELECT block_number, CAST(max(n) AS BIGINT) AS n_txs,
        | max(CASE WHEN rn = (n - 1) * 25 // 100 + 1 THEN gas_price END) AS p25_gas_price,
        | max(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN gas_price END) AS p50_gas_price,
        | max(CASE WHEN rn = (n - 1) * 75 // 100 + 1 THEN gas_price END) AS p75_gas_price
        |FROM ranked GROUP BY block_number""".stripMargin,
    "chain_fee_analytics" ->
      s"""WITH tx AS ($txSilverSql)
        |SELECT block_number, count(*) AS n_txs,
        | CAST(sum(CASE WHEN success THEN 1 ELSE 0 END) AS BIGINT) AS n_success,
        | CAST(sum(gas_used) AS BIGINT) AS total_gas_used,
        | CAST(sum(CAST(gas_used AS DECIMAL(18,0)) * CAST(gas_price AS DECIMAL(18,0))) AS DECIMAL(38,0))::VARCHAR::DOUBLE AS total_fees,
        | CAST(min(gas_price) AS BIGINT) AS min_gas_price,
        | CAST(max(gas_price) AS BIGINT) AS max_gas_price
        |FROM tx GROUP BY block_number""".stripMargin,
    "chain_transactions_exclude_failed" ->
      s"""SELECT t.block_number, t.transaction_index, t.transaction_hash,
        | r.status = 1 AS success,
        | CASE WHEN t.transaction_type = 2
        |      THEN b.base_fee_per_gas + least(t.max_priority_fee_per_gas,
        |             t.max_fee_per_gas - b.base_fee_per_gas)
        |      ELSE t.gas_price END AS gas_price,
        | t.chain_id
        |FROM ${rp("rpc_transactions")} t
        |JOIN ${rp("rpc_receipts")} r USING (transaction_hash)
        |JOIN ${rp("rpc_blocks")} b ON t.block_number = b.block_number
        |WHERE r.status = 1""".stripMargin,
    "chain_logs" ->
      s"""SELECT block_number, transaction_index, log_index, transaction_hash,
        | address, topics[1] AS topic0, topics[2] AS topic1,
        | topics[3] AS topic2, topics[4] AS topic3, data,
        | octet_length(data) AS n_data_bytes, chain_id
        |FROM ${rp("rpc_logs")}""".stripMargin,
    "chain_logs_decoded" ->
      s"""SELECT block_number, transaction_index, log_index, transaction_hash,
        | address, topics[1] AS topic0,
        | ${bs("topics[2]", 13, 20)} AS event__from,
        | ${bs("topics[3]", 13, 20)} AS event__to,
        | data AS event__value_binary,
        | octet_length(data) AS n_data_bytes, chain_id
        |FROM ${rp("rpc_logs")}
        |WHERE len(topics) = 3 AND topics[1] = unhex('$sigTransferHex')
        |  AND octet_length(data) >= 32""".stripMargin,
    "chain_logs_hex" -> {
      def hx(c: String) = s"'0x' || lower(hex($c)) AS $c"
      s"""SELECT block_number, transaction_index, log_index,
        | ${hx("transaction_hash")}, ${hx("address")},
        | ${hx("topics[1]").replace("AS topics[1]", "AS topic0")},
        | ${hx("topics[2]").replace("AS topics[2]", "AS topic1")},
        | ${hx("topics[3]").replace("AS topics[3]", "AS topic2")},
        | ${hx("topics[4]").replace("AS topics[4]", "AS topic3")},
        | ${hx("data")}, octet_length(data) AS n_data_bytes, chain_id
        |FROM ${rp("rpc_logs")}""".stripMargin
    },
    "chain_erc20_transfers" ->
      s"""SELECT block_number, transaction_index, log_index, transaction_hash,
        | address AS erc20,
        | ${bs("topics[2]", 13, 20)} AS from_address,
        | ${bs("topics[3]", 13, 20)} AS to_address,
        | data AS value_binary, chain_id
        |FROM ${rp("rpc_logs")}
        |WHERE len(topics) = 3 AND topics[1] = unhex('$sigTransferHex')
        |  AND octet_length(data) = 32""".stripMargin,
    "chain_factory_stats" ->
      s"""WITH t AS (
        | SELECT *, first_value(action_from) OVER (
        |   PARTITION BY transaction_hash
        |   ORDER BY length(trace_address), trace_address
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS deployer
        | FROM ${rp("rpc_traces")} WHERE transaction_hash IS NOT NULL)
        |SELECT action_from AS factory, count(*) AS n_contracts,
        | count(DISTINCT deployer) AS n_deployers,
        | count(DISTINCT result_code) AS n_distinct_codes,
        | min(block_number) AS first_block,
        | max(block_number) AS last_block
        |FROM t WHERE action_type = 'create' AND error IS NULL
        |GROUP BY action_from""".stripMargin,
    "chain_event_counts" ->
      s"""SELECT topics[1] AS topic0, count(*) AS n_logs,
        | count(DISTINCT address) AS n_contracts
        |FROM ${rp("rpc_logs")} WHERE len(topics) >= 1
        |GROUP BY topics[1]""".stripMargin,
    "chain_erc20_net_flows" ->
      s"""WITH t AS (
        | SELECT address AS erc20,
        |  ${bs("topics[2]", 13, 20)} AS from_address,
        |  ${bs("topics[3]", 13, 20)} AS to_address,
        |  CAST(CAST(CAST('0x' || substring(hex(data), 33, 2) AS BIGINT) AS HUGEINT)
        |    * CAST(1152921504606846976 AS HUGEINT)
        |    * CAST(1152921504606846976 AS HUGEINT)
        |   + CAST(CAST('0x' || substring(hex(data), 35, 15) AS BIGINT) AS HUGEINT)
        |    * CAST(1152921504606846976 AS HUGEINT)
        |   + CAST(CAST('0x' || substring(hex(data), 50, 15) AS BIGINT) AS HUGEINT)
        |   AS DECIMAL(38,0)) AS v
        | FROM ${rp("rpc_logs")}
        | WHERE len(topics) = 3 AND topics[1] = unhex('$sigTransferHex')
        |   AND octet_length(data) = 32),
        |u AS (
        | SELECT erc20, from_address AS address, v AS out_v,
        |  CAST(0 AS DECIMAL(38,0)) AS in_v, 1 AS n_out, 0 AS n_in FROM t
        | UNION ALL
        | SELECT erc20, to_address, CAST(0 AS DECIMAL(38,0)), v, 0, 1 FROM t)
        |SELECT erc20, address,
        | CAST(sum(n_in) AS BIGINT) AS n_in,
        | CAST(sum(n_out) AS BIGINT) AS n_out,
        | CAST(sum(in_v) AS DECIMAL(38,0))::VARCHAR::DOUBLE AS in_flow,
        | CAST(sum(out_v) AS DECIMAL(38,0))::VARCHAR::DOUBLE AS out_flow,
        | CAST(sum(in_v) - sum(out_v) AS DECIMAL(38,0))::VARCHAR::DOUBLE AS net_flow
        |FROM u GROUP BY erc20, address""".stripMargin,
    "chain_erc20_approvals" ->
      s"""SELECT block_number, transaction_index, log_index, transaction_hash,
        | address AS erc20,
        | ${bs("topics[2]", 13, 20)} AS from_address,
        | ${bs("topics[3]", 13, 20)} AS to_address,
        | data AS value_binary, chain_id
        |FROM ${rp("rpc_logs")}
        |WHERE len(topics) = 3 AND topics[1] = unhex('$sigApprovalHex')
        |  AND octet_length(data) = 32""".stripMargin,
    "chain_erc721_transfers" ->
      s"""SELECT block_number, transaction_index, log_index, transaction_hash,
        | address AS erc721,
        | ${bs("topics[2]", 13, 20)} AS from_address,
        | ${bs("topics[3]", 13, 20)} AS to_address,
        | topics[4] AS token_id_binary, chain_id
        |FROM ${rp("rpc_logs")}
        |WHERE len(topics) = 4 AND topics[1] = unhex('$sigTransferHex')""".stripMargin,
    "chain_traces" ->
      s"""SELECT action_from, action_to, action_value, action_gas,
        | action_input, action_call_type, action_init, action_reward_type,
        | action_type, result_gas_used, result_output, result_code,
        | result_address, trace_address, subtraces, error, block_number,
        | transaction_index, transaction_hash, chain_id
        |FROM ${rp("rpc_traces")}""".stripMargin,
    "chain_traces_exclude_failed" ->
      s"""SELECT block_number, transaction_index, transaction_hash,
        | trace_address, action_type, error, chain_id
        |FROM ${rp("rpc_traces")} t
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM ${rp("rpc_traces")} f
        |  WHERE f.error IS NOT NULL AND f.transaction_hash = t.transaction_hash
        |    AND (t.trace_address = f.trace_address
        |         OR starts_with(t.trace_address, f.trace_address || '_')
        |         OR f.trace_address = ''))""".stripMargin,
    "chain_native_transfers" ->
      s"""WITH x AS (
        | SELECT *,
        |  CASE WHEN action_type = 'reward'
        |       THEN CAST(repeat(CHR(0), 20) AS BLOB)
        |       ELSE action_from END AS from_unified,
        |  CASE WHEN action_type = 'create' THEN result_address
        |       WHEN action_type = 'reward' THEN action_from
        |       ELSE action_to END AS to_unified
        | FROM ${rp("rpc_traces")}
        | WHERE error IS NULL
        |   AND ((action_type IN ('call', 'create') AND action_value <> '0')
        |        OR action_type IN ('suicide', 'reward')))
        |SELECT block_number, transaction_index,
        | CAST(row_number() OVER (PARTITION BY block_number
        |   ORDER BY transaction_index ASC NULLS LAST, trace_address) - 1 AS INT)
        |   AS transfer_index,
        | transaction_hash, from_unified AS from_address,
        | to_unified AS to_address, action_value AS value_string, chain_id
        |FROM x""".stripMargin,
    "chain_contracts" ->
      s"""WITH t AS (
        | SELECT *, first_value(action_from) OVER (
        |   PARTITION BY transaction_hash
        |   ORDER BY length(trace_address), trace_address
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS deployer
        | FROM ${rp("rpc_traces")} WHERE transaction_hash IS NOT NULL)
        |SELECT block_number,
        | CAST(row_number() OVER (PARTITION BY block_number
        |   ORDER BY transaction_index, trace_address) - 1 AS INT) AS create_index,
        | transaction_hash, result_address AS contract_address, deployer,
        | action_from AS factory,
        | octet_length(action_init) AS n_init_code_bytes,
        | octet_length(result_code) AS n_code_bytes, chain_id
        |FROM t WHERE action_type = 'create' AND error IS NULL""".stripMargin,
    "chain_four_byte_counts" ->
      s"""SELECT block_number, transaction_index, transaction_hash,
        | ${bs("action_input", 1, 4)} AS signature,
        | CAST(octet_length(action_input) AS BIGINT) AS "size",
        | count(*) AS "count", CAST(${GenFixtures.ChainId} AS BIGINT) AS chain_id
        |FROM ${rp("rpc_traces")}
        |WHERE transaction_hash IS NOT NULL AND octet_length(action_input) >= 4
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin,
    "chain_address_appearances" ->
      s"""SELECT block_number, CAST(NULL AS INT) AS transaction_index,
        |  CAST(NULL AS BLOB) AS transaction_hash, author AS address,
        |  'miner' AS relationship, chain_id FROM ${rp("rpc_blocks")}
        |UNION ALL SELECT block_number, transaction_index, transaction_hash,
        |  from_address, 'tx_from', chain_id FROM ${rp("rpc_transactions")}
        |UNION ALL SELECT block_number, transaction_index, transaction_hash,
        |  to_address, 'tx_to', chain_id FROM ${rp("rpc_transactions")}
        |  WHERE to_address IS NOT NULL
        |UNION ALL SELECT block_number, transaction_index, transaction_hash,
        |  address, 'log_address', chain_id FROM ${rp("rpc_logs")}
        |UNION ALL SELECT block_number, transaction_index, transaction_hash,
        |  ${bs("topics[2]", 13, 20)}, 'erc20_transfer_from', chain_id
        |  FROM ${rp("rpc_logs")}
        |  WHERE len(topics) >= 3 AND topics[1] = unhex('$sigTransferHex')
        |UNION ALL SELECT block_number, transaction_index, transaction_hash,
        |  ${bs("topics[3]", 13, 20)}, 'erc20_transfer_to', chain_id
        |  FROM ${rp("rpc_logs")}
        |  WHERE len(topics) >= 3 AND topics[1] = unhex('$sigTransferHex')
        |UNION ALL SELECT block_number, transaction_index, transaction_hash,
        |  action_from, 'trace_from', chain_id FROM ${rp("rpc_traces")}
        |  WHERE action_from IS NOT NULL
        |UNION ALL SELECT block_number, transaction_index, transaction_hash,
        |  action_to, 'trace_to', chain_id FROM ${rp("rpc_traces")}
        |  WHERE action_to IS NOT NULL
        |UNION ALL SELECT block_number, transaction_index, transaction_hash,
        |  result_address, 'trace_created', chain_id FROM ${rp("rpc_traces")}
        |  WHERE result_address IS NOT NULL""".stripMargin,
    "chain_balances" ->
      s"""SELECT block_number, address, balance AS balance_binary, chain_id
        |FROM ${rp("rpc_accounts")}""".stripMargin,
    "chain_nonces" ->
      s"""SELECT block_number, address, nonce, chain_id
        |FROM ${rp("rpc_accounts")}""".stripMargin,
    "chain_slots" ->
      s"""SELECT block_number, address, slot, value AS value_binary, chain_id
        |FROM ${rp("rpc_storage")}""".stripMargin,
    "chain_storage_diffs" ->
      s"""SELECT block_number, transaction_index, transaction_hash, address,
        | slot, from_value AS from_value_binary, to_value AS to_value_binary,
        | chain_id
        |FROM ${rp("rpc_storage_diffs")}""".stripMargin,
    "chain_eth_calls" ->
      s"""SELECT block_number, contract_address, call_data, output_data, chain_id
        |FROM ${rp("rpc_calls")}""".stripMargin,
    "chain_balance_diffs" ->
      s"""SELECT block_number, transaction_index, transaction_hash, address,
        | from_value AS from_value_binary, to_value AS to_value_binary, chain_id
        |FROM ${rp("rpc_balance_diffs")}""".stripMargin,
    "chain_nonce_diffs" ->
      s"""SELECT block_number, transaction_index, transaction_hash, address,
        | from_value, to_value, chain_id
        |FROM ${rp("rpc_nonce_diffs")}""".stripMargin,
    "chain_code_diffs" ->
      s"""SELECT block_number, transaction_index, transaction_hash, address,
        | from_value, to_value, chain_id
        |FROM ${rp("rpc_code_diffs")}""".stripMargin,
    "chain_codes" ->
      s"""SELECT block_number, address, code, chain_id
        |FROM ${rp("rpc_accounts")}""".stripMargin,
    "chain_vm_traces" ->
      s"""SELECT block_number, transaction_index, pc, cost, used, push,
        | mem_off, mem_data, storage_key, storage_val, op, chain_id
        |FROM ${rp("rpc_vm_traces")}""".stripMargin,
    "chain_geth_opcodes" ->
      s"""SELECT block_number, transaction_index, pc, op, gas, gas_cost,
        | depth, chain_id
        |FROM ${rp("rpc_geth_opcodes")}""".stripMargin,
    "chain_geth_calls" ->
      s"""SELECT block_number, transaction_index, from_address, to_address,
        | value AS value_binary, gas, gas_used, input, output, call_type,
        | error, depth, chain_id
        |FROM ${rp("rpc_geth_calls")}""".stripMargin,
    "chain_js_traces" ->
      s"""SELECT block_number, transaction_index, transaction_hash, output,
        | CAST(output->>'gasUsed' AS BIGINT) AS gas_used, chain_id
        |FROM ${rp("rpc_js_traces")}""".stripMargin,
    "chain_trace_calls" ->
      s"""SELECT block_number, contract_address, tx_call_data, action_from,
        | action_to, action_value, action_gas, action_input, action_type,
        | trace_address, subtraces, error, chain_id
        |FROM ${rp("rpc_trace_calls")}""".stripMargin,
    "chain_balance_reads" ->
      s"""SELECT block_number, transaction_index, transaction_hash, address,
        | balance AS balance_binary, chain_id
        |FROM ${rp("rpc_geth_prestate")}
        |WHERE phase = 'pre' AND slot IS NULL AND balance IS NOT NULL""".stripMargin,
    "chain_nonce_reads" ->
      s"""SELECT block_number, transaction_index, transaction_hash, address,
        | nonce, chain_id
        |FROM ${rp("rpc_geth_prestate")}
        |WHERE phase = 'pre' AND slot IS NULL AND nonce IS NOT NULL""".stripMargin,
    "chain_code_reads" ->
      s"""SELECT block_number, transaction_index, transaction_hash, address,
        | code, chain_id
        |FROM ${rp("rpc_geth_prestate")}
        |WHERE phase = 'pre' AND slot IS NULL AND code IS NOT NULL""".stripMargin,
    "chain_storage_reads" ->
      s"""SELECT block_number, transaction_index, transaction_hash, address,
        | slot, slot_value AS value, chain_id
        |FROM ${rp("rpc_geth_prestate")}
        |WHERE phase = 'pre' AND slot IS NOT NULL AND slot_value IS NOT NULL""".stripMargin,
    "chain_erc721_metadata" ->
      s"""WITH g AS (
        | SELECT block_number, contract_address AS erc721, chain_id,
        |  min(CASE WHEN call_data = unhex('06fdde03') THEN output_data END) AS name_raw,
        |  min(CASE WHEN call_data = unhex('95d89b41') THEN output_data END) AS symbol_raw
        | FROM ${rp("rpc_calls_erc721")}
        | GROUP BY 1, 2, 3)
        |SELECT block_number, erc721,
        | regexp_replace(decode(${bs("name_raw", 65, 9999)}), '[\\x00-\\x1f\\x7f]', '', 'g') AS name,
        | regexp_replace(decode(${bs("symbol_raw", 65, 9999)}), '[\\x00-\\x1f\\x7f]', '', 'g') AS symbol,
        | chain_id
        |FROM g WHERE name_raw IS NOT NULL""".stripMargin,
    "chain_geth_balance_diffs" ->
      s"""WITH base AS (
        | SELECT * FROM ${rp("rpc_geth_prestate")} WHERE slot IS NULL AND balance IS NOT NULL),
        |pre AS (SELECT block_number, transaction_index, transaction_hash, address,
        |        chain_id, balance AS pre_value FROM base WHERE phase = 'pre'),
        |post AS (SELECT block_number, transaction_index, transaction_hash, address,
        |        chain_id, balance AS post_value FROM base WHERE phase = 'post')
        |SELECT block_number, transaction_index, transaction_hash, address,
        | coalesce(pre_value, unhex(repeat('00', 32))) AS from_value_binary,
        | coalesce(post_value, unhex(repeat('00', 32))) AS to_value_binary,
        | chain_id
        |FROM pre FULL OUTER JOIN post
        | USING (block_number, transaction_index, transaction_hash, address, chain_id)
        |WHERE coalesce(pre_value, unhex(repeat('00', 32)))
        |   <> coalesce(post_value, unhex(repeat('00', 32)))""".stripMargin,
    "chain_geth_storage_diffs" ->
      s"""WITH base AS (
        | SELECT * FROM ${rp("rpc_geth_prestate")} WHERE slot IS NOT NULL AND slot_value IS NOT NULL),
        |pre AS (SELECT block_number, transaction_index, transaction_hash, address, slot,
        |        chain_id, slot_value AS pre_value FROM base WHERE phase = 'pre'),
        |post AS (SELECT block_number, transaction_index, transaction_hash, address, slot,
        |        chain_id, slot_value AS post_value FROM base WHERE phase = 'post')
        |SELECT block_number, transaction_index, transaction_hash, address, slot,
        | coalesce(pre_value, unhex(repeat('00', 32))) AS from_value_binary,
        | coalesce(post_value, unhex(repeat('00', 32))) AS to_value_binary,
        | chain_id
        |FROM pre FULL OUTER JOIN post
        | USING (block_number, transaction_index, transaction_hash, address, slot, chain_id)
        |WHERE coalesce(pre_value, unhex(repeat('00', 32)))
        |   <> coalesce(post_value, unhex(repeat('00', 32)))""".stripMargin,
    "chain_geth_code_diffs" ->
      s"""WITH base AS (
        | SELECT * FROM ${rp("rpc_geth_prestate")} WHERE slot IS NULL AND code IS NOT NULL),
        |pre AS (SELECT block_number, transaction_index, transaction_hash, address,
        |        chain_id, code AS pre_value FROM base WHERE phase = 'pre'),
        |post AS (SELECT block_number, transaction_index, transaction_hash, address,
        |        chain_id, code AS post_value FROM base WHERE phase = 'post')
        |SELECT block_number, transaction_index, transaction_hash, address,
        | coalesce(pre_value, unhex('')) AS from_value,
        | coalesce(post_value, unhex('')) AS to_value, chain_id
        |FROM pre FULL OUTER JOIN post
        | USING (block_number, transaction_index, transaction_hash, address, chain_id)
        |WHERE coalesce(pre_value, unhex('')) <> coalesce(post_value, unhex(''))""".stripMargin,
    "chain_geth_nonce_diffs" ->
      s"""WITH base AS (
        | SELECT * FROM ${rp("rpc_geth_prestate")} WHERE slot IS NULL AND nonce IS NOT NULL),
        |pre AS (SELECT block_number, transaction_index, transaction_hash, address,
        |        chain_id, nonce AS pre_value FROM base WHERE phase = 'pre'),
        |post AS (SELECT block_number, transaction_index, transaction_hash, address,
        |        chain_id, nonce AS post_value FROM base WHERE phase = 'post')
        |SELECT block_number, transaction_index, transaction_hash, address,
        | coalesce(pre_value, 0) AS from_value, coalesce(post_value, 0) AS to_value, chain_id
        |FROM pre FULL OUTER JOIN post
        | USING (block_number, transaction_index, transaction_hash, address, chain_id)
        |WHERE coalesce(pre_value, 0) <> coalesce(post_value, 0)""".stripMargin,
    "chain_erc20_metadata" ->
      s"""WITH g AS (
        | SELECT block_number, contract_address AS erc20, chain_id,
        |  min(CASE WHEN call_data = unhex('06fdde03') THEN output_data END) AS name_raw,
        |  min(CASE WHEN call_data = unhex('95d89b41') THEN output_data END) AS symbol_raw,
        |  min(CASE WHEN call_data = unhex('313ce567') THEN output_data END) AS decimals_raw
        | FROM ${rp("rpc_calls")}
        | GROUP BY 1, 2, 3)
        |SELECT block_number, erc20,
        | regexp_replace(decode(${bs("name_raw", 65, 9999)}), '[\\x00-\\x1f\\x7f]', '', 'g') AS name,
        | regexp_replace(decode(${bs("symbol_raw", 65, 9999)}), '[\\x00-\\x1f\\x7f]', '', 'g') AS symbol,
        | CAST('0x' || hex(${bs("decimals_raw", 29, 4)}) AS INT) AS decimals,
        | chain_id
        |FROM g WHERE name_raw IS NOT NULL""".stripMargin,
    "chain_erc20_supplies" ->
      s"""SELECT block_number, contract_address AS erc20,
        | output_data AS total_supply_binary, chain_id
        |FROM ${rp("rpc_calls")} WHERE call_data = unhex('18160ddd')""".stripMargin,
    "chain_erc20_balances" ->
      s"""SELECT block_number, contract_address AS erc20,
        | ${bs("call_data", 17, 20)} AS address,
        | output_data AS balance_binary, chain_id
        |FROM ${rp("rpc_calls")}
        |WHERE ${bs("call_data", 1, 4)} = unhex('70a08231')
        |  AND octet_length(call_data) = 36""".stripMargin
  )

  def oracles: Map[String, String] = rawOracles.map { case (k, v) =>
    k -> hexWrap(k, v)
  }
}

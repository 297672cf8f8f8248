package graft

import java.nio.file.{Files, Paths}

import graft.chain.{BlockSyntax, Bronze, Freeze, Lake}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Frozen-lake read-back (Lake.scala): filename parsing, planning-time
  * file pruning, format handling, and round-trip fidelity against the
  * fixture bronzes. */
class LakeSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val FixDir = graft.queries.ChainQueries.FixDir

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def freeze(out: String, datasets: Seq[String],
      blocks: BlockSyntax.Blocks = BlockSyntax.Range(1000, 1060),
      chunkSize: Long = 20, format: String = "parquet",
      label: Option[String] = None,
      subdirs: Seq[String] = Seq.empty,
      partitionBy: Option[String] = None,
      overwrite: Boolean = false): Freeze.FreezeResult =
    Freeze.freeze(spark, FixDir, Freeze.FreezeSpec(
      datasets = datasets, blocks = blocks, chunkSize = chunkSize,
      outputDir = out, format = format, label = label, subdirs = subdirs,
      partitionBy = partitionBy, noReport = true, maxConcurrentChunks = 1,
      overwrite = overwrite))

  test("parseFileName handles plain, labeled, dim-stubbed and foreign names") {
    val p = Lake.parseFileName(
      Paths.get("ethereum__blocks__00001000_to_00001019.parquet")).get
    assert(p.network == "ethereum" && p.dataset == "blocks")
    assert(p.start == 1000L && p.endInclusive == 1019L)
    assert(p.tags.isEmpty && p.format == "parquet")

    val lab = Lake.parseFileName(Paths.get(
      "polygon_zkevm__erc20_transfers__v2__00000000_to_00000999.csv")).get
    assert(lab.network == "polygon_zkevm")
    assert(lab.dataset == "erc20_transfers")
    assert(lab.tags == Seq("v2") && lab.format == "csv")

    // label + binary partition-dim stub, both between dataset and range
    val dim = Lake.parseFileName(Paths.get(
      "ethereum__logs__run1__deadbeef__00001000_to_00001999.json")).get
    assert(dim.tags == Seq("run1", "deadbeef"))

    // foreign files and freeze metadata never parse
    assert(Lake.parseFileName(Paths.get("report.json")).isEmpty)
    assert(Lake.parseFileName(Paths.get("remembered_command.json")).isEmpty)
    assert(Lake.parseFileName(Paths.get("part-00000.snappy.parquet")).isEmpty)
    assert(Lake.parseFileName(
      Paths.get("ethereum__blocks__bad_range.parquet")).isEmpty)
  }

  test("block-range read prunes files at planning time and rows exactly") {
    val out = freshDir("lake_prune_")
    freeze(out, Seq("blocks"), chunkSize = 10) // 6 files
    assert(Lake.listChunks(out).size == 6)

    // [1015, 1045) overlaps chunks 1010,1020,1030,1040 — exactly 4 files
    val sel = Lake.select(out, "blocks",
      Some(BlockSyntax.Range(1015, 1045)))
    assert(sel.size == 4)
    assert(sel.map(_.start).sorted == Seq(1010L, 1020L, 1030L, 1040L))

    val df = Lake.read(spark, out, "blocks",
      Some(BlockSyntax.Range(1015, 1045)))
    // the SCAN itself only touches the 4 overlapping files
    assert(df.inputFiles.length == 4)
    val got = df.agg(count(lit(1)), min("block_number"), max("block_number"))
      .head()
    assert(got.getLong(0) == 30L)
    assert(got.getInt(1) == 1015 && got.getInt(2) == 1044)
  }

  test("block-number list reads only the containing chunks") {
    val out = freshDir("lake_numbers_")
    freeze(out, Seq("blocks"), chunkSize = 10)
    val blocks = BlockSyntax.Numbers(Seq(1003L, 1057L))
    val sel = Lake.select(out, "blocks", Some(blocks))
    assert(sel.map(_.start).sorted == Seq(1000L, 1050L))
    val rows = Lake.read(spark, out, "blocks", Some(blocks))
      .select("block_number").collect().map(_.getInt(0)).sorted
    assert(rows.toSeq == Seq(1003, 1057))
  }

  test("dataset alias, network filter and mixed-dataset directories") {
    val out = freshDir("lake_mixed_")
    freeze(out, Seq("blocks", "transactions"), chunkSize = 30)
    // alias resolves through the registry; other datasets don't leak in
    val txs = Lake.read(spark, out, "txs", network = Some("ethereum"))
    assert(txs.columns.contains("transaction_hash"))
    assert(Lake.select(out, "txs", network = Some("polygon")).isEmpty)
    assert(Lake.select(out, "blocks").size == 2)
  }

  test("subdirs layouts are walked; dot-dirs are skipped") {
    val out = freshDir("lake_subdirs_")
    Freeze.freeze(spark, FixDir, Freeze.FreezeSpec(
      datasets = Seq("blocks"), blocks = BlockSyntax.Range(1000, 1060),
      chunkSize = 30, outputDir = out, subdirs = Seq("datatype", "network"),
      maxConcurrentChunks = 1)) // report ON: .graft must be skipped
    val chunks = Lake.listChunks(out)
    assert(chunks.size == 2)
    assert(chunks.forall(_.path.contains("blocks/ethereum/")))
    assert(Lake.read(spark, out, "blocks").count() == 60L)
  }

  test("round trip is lossless vs the direct silver, parquet and csv") {
    val out = freshDir("lake_roundtrip_")
    freeze(out, Seq("blocks"), chunkSize = 20)
    val direct = graft.chain.Freeze.builder("blocks")(Bronze.dir(spark, FixDir))
    val back = Lake.read(spark, out, "blocks")
    assert(back.schema == direct.schema)
    assert(back.exceptAll(direct).isEmpty && direct.exceptAll(back).isEmpty)

    // csv and json lakes: freeze hex-encodes binaries; read back with
    // the explicit schema (the pipeline path) and require EXACT row-set
    // equality with the hexified silver — and with each other, so every
    // sink format holds the same bytes
    val hexDirect = graft.chain.Freeze.collect(Bronze.dir(spark, FixDir), "blocks",
      BlockSyntax.Range(1000, 1060), hex = true).persist()
    hexDirect.count()
    val byFormat = Seq("csv", "json").map { fmt =>
      val outF = freshDir(s"lake_${fmt}_")
      freeze(outF, Seq("blocks"), chunkSize = 20, format = fmt)
      val backF = Lake.read(spark, outF, "blocks",
        schema = Some(hexDirect.schema))
      assert(backF.count() == 60L, s"$fmt lake row count")
      assert(backF.exceptAll(hexDirect).isEmpty &&
        hexDirect.exceptAll(backF).isEmpty, s"$fmt lake vs silver")
      backF
    }
    assert(byFormat(0).exceptAll(byFormat(1)).isEmpty &&
      byFormat(1).exceptAll(byFormat(0)).isEmpty, "csv lake vs json lake")
    hexDirect.unpersist()
  }

  test("partitioned lake: tag filter selects one dim value's files") {
    val out = freshDir("lake_dim_")
    freeze(out, Seq("transactions"), chunkSize = 30,
      partitionBy = Some("from_address"))
    val all = Lake.listChunks(out)
    assert(all.nonEmpty && all.forall(_.tags.size == 1))
    val oneTag = all.head.tags.head
    val sel = Lake.select(out, "transactions", tag = Some(oneTag))
    assert(sel.nonEmpty && sel.size < all.size)
    val df = Lake.read(spark, out, "transactions", tag = Some(oneTag))
    // every row's sender starts with the 4-byte stub the filename carries
    val pref = df.select(hex(expr("substring(from_address, 1, 4)")))
      .distinct().collect().map(_.getString(0).toLowerCase)
    assert(pref.toSeq == Seq(oneTag))
  }

  test("readStream tails a lake: appended chunk files arrive incrementally") {
    val out = freshDir("lake_stream_")
    freeze(out, Seq("blocks", "transactions"),
      blocks = BlockSyntax.Range(1000, 1020), chunkSize = 20)
    val schema = Lake.read(spark, out, "blocks").schema
    val stream = Lake.readStream(spark, out, "blocks", schema)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory")
      .queryName("lake_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      // only the blocks chunk is in the stream — transactions filtered
      // by the filename glob at listing time
      assert(spark.sql("select count(*) from lake_tail").head().getLong(0) == 20L)
      // a live freeze appends two more chunks; the stream picks them up
      freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1020, 1060),
        chunkSize = 20)
      q.processAllAvailable()
      val got = spark.sql(
        "select count(*), min(block_number), max(block_number) from lake_tail")
        .head()
      assert(got.getLong(0) == 60L)
      assert(got.getInt(1) == 1000 && got.getInt(2) == 1059)
    } finally q.stop()
  }

  test("readStream tag scoping excludes other labels and foreign-named files") {
    val out = freshDir("lake_streamtag_")
    freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1000, 1020),
      chunkSize = 20, label = Some("run1"))
    freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1020, 1040),
      chunkSize = 20, label = Some("run2"))
    // defense-in-depth case: an EXTERNALLY named file (cannot be
    // produced by freeze — the label guard forbids it) whose tag
    // segments spell the dataset name and the tag; glob-matches, must
    // be excluded by the exact dataset-segment row filter
    val src = Lake.listChunks(out).find(_.tags == Seq("run1")).get.path
    Files.copy(Paths.get(src), Paths.get(out).resolve(
      "ethereum__fake__blocks__run1__00009000_to_00009019.parquet"))
    val schema = Lake.read(spark, out, "blocks", tag = Some("run1")).schema
    val stream = Lake.readStream(spark, out, "blocks", schema,
      tag = Some("run1"))
    val q = stream.writeStream.format("memory").queryName("lake_tag_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select count(*), min(block_number), " +
        "max(block_number) from lake_tag_tail").head()
      // only run1's 20 blocks: run2 (tag filter) and the foreign file
      // (dataset-segment filter; would add 20 more rows) are excluded
      assert(got.getLong(0) == 20L)
      assert(got.getInt(1) == 1000 && got.getInt(2) == 1019)
    } finally q.stop()
  }

  test("CLI lake read resolves --timestamps against the lake's own blocks") {
    val out = freshDir("lake_ts_")
    freeze(out, Seq("blocks"), chunkSize = 10)
    // fixture timestamps: 1700012000 + 12s/block → [1700012120, 1700012300]
    // resolves to blocks [1010, 1025] via ≤-semantics at both ends
    val df = Cli.runLake(Seq("blocks", "--lake-dir", out,
      "--timestamps", "1700012120:1700012300", "--show", "0"), spark)
    val got = df.agg(min("block_number"), max("block_number"),
      count(lit(1))).head()
    assert(got.getInt(0) == 1010 && got.getInt(1) == 1025)
    assert(got.getLong(2) == 16L)
  }

  test("lake timestamp resolver agrees with the DataFrame path, gaps included") {
    import graft.chain.TimestampSyntax
    // a lake with a coverage gap (1020s missing) — the name-bisecting
    // resolver must floor into the right chunk exactly like the
    // DataFrame-backed resolver over the same rows
    val out = freshDir("lake_tsgap_")
    freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1000, 1020),
      chunkSize = 10)
    freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1040, 1060),
      chunkSize = 10)
    val lakeR = TimestampSyntax.resolverForLake(spark, out)
    val dfR = TimestampSyntax.resolverFor(Lake.read(spark, out, "blocks"))
    val t0 = 1700012000L
    for (t <- Seq(t0 - 1, t0, t0 + 12 * 5 + 3, t0 + 12 * 25, t0 + 12 * 45,
        t0 + 12 * 59, t0 + 12 * 500)) {
      assert(lakeR.blockAtOrBefore(t) == dfR.blockAtOrBefore(t), s"t=$t")
    }
    assert(lakeR.blockAtOrBefore(t0 + 12 * 25) == Some(1019)) // in the gap
    assert(lakeR.blockAtOrBefore(t0 + 12 * 45) == Some(1045)) // high chunk
  }

  test("compact coalesces contiguous runs but never bridges a gap") {
    val out = freshDir("lake_compact_")
    freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1000, 1030),
      chunkSize = 10) // 3 files
    freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1040, 1060),
      chunkSize = 10) // 2 files, 1030-1039 never frozen
    // snapshot BEFORE the rewrite (binary columns compare by value via
    // exceptAll on a persisted copy, not Row.equals on byte arrays)
    val before = Lake.read(spark, out, "blocks").persist()
    before.count()
    graft.chain.LakeCompact.compact(spark, out, targetBlocks = 30)
    val files = Lake.listChunks(out)
    assert(files.map(f => (f.start, f.endInclusive)).sortBy(_._1) ==
      Seq((1000L, 1029L), (1040L, 1059L)))
    val after = Lake.read(spark, out, "blocks")
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
    before.unpersist()
    // content is still pruned correctly post-compact
    assert(Lake.select(out, "blocks",
      Some(BlockSyntax.Range(1045, 1050))).size == 1)
  }

  test("interrupted compact: contained originals are invisible to reads " +
      "and cleaned by the next run") {
    val out = freshDir("lake_interrupt_")
    freeze(out, Seq("blocks"), chunkSize = 10) // 6 originals
    // simulate a crash after the merged write, before the deletes: the
    // full-range file lands NEXT TO all six originals
    freeze(out, Seq("blocks"), chunkSize = 60)
    assert(Lake.listChunks(out).size == 7)
    // reads prefer the container — each row exactly once
    assert(Lake.read(spark, out, "blocks").count() == 60L)
    assert(Lake.select(out, "blocks").size == 1)
    // the next compact finishes the interrupted deletion
    graft.chain.LakeCompact.compact(spark, out, targetBlocks = 60)
    assert(Lake.listChunks(out).size == 1)
    assert(Lake.read(spark, out, "blocks").count() == 60L)
  }

  test("compact respects target size, tag scoping, and refuses csv") {
    val out = freshDir("lake_target_")
    freeze(out, Seq("blocks"), chunkSize = 10, label = Some("a"))
    freeze(out, Seq("blocks"), chunkSize = 10, label = Some("b"))
    graft.chain.LakeCompact.compact(spark, out, targetBlocks = 30)
    val files = Lake.listChunks(out)
    // per label: 6×10 → 2×30; labels never merge across
    assert(files.size == 4)
    assert(files.forall(f => f.endInclusive - f.start + 1 <= 30))
    assert(files.count(_.tags == Seq("a")) == 2)
    assert(files.count(_.tags == Seq("b")) == 2)
    assert(Lake.read(spark, out, "blocks", tag = Some("a")).count() == 60L)

    // --up-to-block bounds which files may be rewritten (a live tail
    // still sees merged files as new paths — see LakeCompact scaladoc)
    val outUp = freshDir("lake_upto_")
    freeze(outUp, Seq("blocks"), chunkSize = 10)
    graft.chain.LakeCompact.compact(spark, outUp, targetBlocks = 60,
      upTo = Some(1029L))
    val upFiles = Lake.listChunks(outUp).map(f => (f.start, f.endInclusive))
      .sortBy(_._1)
    assert(upFiles == Seq((1000L, 1029L), (1030L, 1039L), (1040L, 1049L),
      (1050L, 1059L)))

    val outCsv = freshDir("lake_csvcompact_")
    freeze(outCsv, Seq("blocks"), chunkSize = 30, format = "csv")
    val e = intercept[IllegalArgumentException] {
      graft.chain.LakeCompact.compact(spark, outCsv, targetBlocks = 60)
    }
    assert(e.getMessage.contains("parquet-only"))
    // a MIXED lake compacts its parquet groups and skips the csv group
    // — one export must not block merging thousands of parquet chunks
    val outMixed = freshDir("lake_mixedcompact_")
    freeze(outMixed, Seq("blocks"), chunkSize = 30)
    freeze(outMixed, Seq("transactions"), chunkSize = 30, format = "csv")
    graft.chain.LakeCompact.compact(spark, outMixed, targetBlocks = 60)
    val mixedFiles = Lake.listChunks(outMixed)
    assert(mixedFiles.count(f => f.dataset == "blocks" && f.format == "parquet") == 1)
    assert(mixedFiles.count(_.format == "csv") == 2) // untouched
  }

  test("compact keeps the dataset's default sort inside merged files") {
    val out = freshDir("lake_sorted_")
    freeze(out, Seq("transactions"), chunkSize = 15)
    graft.chain.LakeCompact.compact(spark, out, targetBlocks = 60)
    val merged = Lake.listChunks(out)
    assert(merged.size == 1)
    val rows = spark.read.parquet(merged.head.path)
      .select("block_number", "transaction_index")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(rows.toSeq == rows.toSeq.sorted)
  }

  test("selection over a 20k-file lake is exact and driver-trivial") {
    // the 100 TB shape: ~22M blocks at 1000-block chunks ≈ 22k files.
    // Selection is filename string work only — no footers, no Spark
    // jobs — so it must stay well under a second at this file count.
    val out = freshDir("lake_manyfiles_")
    val dir = Paths.get(out)
    (0 until 20000).foreach { i =>
      val r = graft.chain.BlockSyntax.Range(i * 1000L, (i + 1) * 1000L)
      Files.createFile(dir.resolve(
        s"ethereum__blocks__${Freeze.chunkStub(r)}.parquet"))
    }
    val t0 = System.nanoTime()
    val sel = Lake.select(out, "blocks",
      Some(BlockSyntax.Range(7_654_321L, 7_657_000L)))
    val ms = (System.nanoTime() - t0) / 1e6
    // blocks 7,654,321–7,656,999 span chunk files 7654, 7655, 7656
    assert(sel.map(_.start).sorted == Seq(7654000L, 7655000L, 7656000L))
    info(f"20k-file selection took $ms%.0f ms")
    assert(ms < 5000, f"selection took $ms%.0f ms over 20k files")
  }

  test("lake verify audits gaps and overlaps from file names only") {
    val out = freshDir("lake_audit_")
    freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1000, 1020),
      chunkSize = 10)
    freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1040, 1060),
      chunkSize = 10)
    val a = Lake.audit(out).head
    assert(a.nFiles == 4 && a.minBlock == 1000L && a.maxBlock == 1059L)
    assert(a.gaps == Seq((1020L, 1039L)) && a.overlaps.isEmpty)
    // a hand-named file spanning several others (out-of-contract
    // external writer): flagged against the furthest-reaching file,
    // not just the sort-adjacent one
    Files.createFile(Paths.get(out)
      .resolve("ethereum__blocks__00001005_to_00001045.parquet"))
    val b = Lake.audit(out).head
    assert(b.overlaps.size == 3) // 1010, 1040 overlap it; it overlaps 1000
    // CLI/py4j surface returns the rollup as a DataFrame
    val df = Cli.runLake(Seq("verify", "--lake-dir", out, "--show", "0"), spark)
    val row = df.head()
    assert(row.getAs[Int]("n_files") == 5)
    // the spanning file also covers the former 1020-1039 gap
    assert(row.getAs[Int]("n_gaps") == 0 && row.getAs[Int]("n_overlaps") == 3)
  }

  test("duplicate same-range files across layouts fail loudly") {
    val out = freshDir("lake_dupe_")
    freeze(out, Seq("blocks"), chunkSize = 60)
    freeze(out, Seq("blocks"), chunkSize = 60, subdirs = Seq("datatype"))
    val e = intercept[IllegalArgumentException] {
      Lake.read(spark, out, "blocks")
    }
    assert(e.getMessage.contains("duplicate chunk files"))
  }

  test("partially overlapping files fail loudly instead of duplicating rows") {
    // two freezes with misaligned ranges: 1000_to_1029 and 1015_to_1044
    // share [1015,1029] but neither contains the other — no file choice
    // reads each row exactly once, so reads must throw, not silently
    // return the shared span twice (and not silently drop blocks)
    val out = freshDir("lake_partial_")
    freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1000, 1030),
      chunkSize = 30)
    freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1015, 1045),
      chunkSize = 30)
    val e = intercept[IllegalArgumentException] {
      Lake.read(spark, out, "blocks")
    }
    assert(e.getMessage.contains("partially overlapping"))
    // the audit (which never calls dropContained) still reports the
    // colliding pair, so `lake verify` is the diagnosis path
    val audit = Lake.audit(out)
    assert(audit.exists(_.overlaps.nonEmpty))
  }

  test("freeze refuses a label that collides with a dataset name") {
    // `*__blocks__*` would glob-match a transactions file LABELED
    // "blocks", whose parquet schema would then break a blocks stream —
    // such lakes must be impossible to create
    val e = intercept[IllegalArgumentException] {
      freeze(freshDir("lake_badlabel_"), Seq("transactions"),
        chunkSize = 30, label = Some("blocks"))
    }
    assert(e.getMessage.contains("collides with a dataset name"))
    // the same guard covers explicit partition-dim values (binary dims
    // are immune — an 8-hex stub cannot spell a dataset name), also
    // under --overwrite, where no file's existence is checked first
    for (overwrite <- Seq(false, true)) {
      val e2 = intercept[IllegalArgumentException] {
        Freeze.freeze(spark, FixDir, Freeze.FreezeSpec(
          datasets = Seq("transactions"), blocks = BlockSyntax.Range(1000, 1010),
          outputDir = freshDir("lake_badpv_"), partitionBy = Some("to_address"),
          partitionValues = Seq("blocks"), noReport = true, overwrite = overwrite,
          maxConcurrentChunks = 1))
      }
      assert(e2.getMessage.contains("collides with a dataset name"))
    }
    // an ALIAS is a legal label: filenames and readStream globs carry
    // only canonical dataset segments, so "txs" can never glob-collide
    val okDir = freshDir("lake_aliaslabel_")
    freeze(okDir, Seq("blocks"), chunkSize = 30, label = Some("txs"))
    assert(Lake.read(spark, okDir, "blocks", tag = Some("txs")).count() == 60)
  }

  test("audit reports cross-tag duplicate coverage as advisory") {
    // the same range frozen untagged AND under --label run1: file
    // names cannot distinguish a label (duplicate coverage — an
    // untagged read returns every row twice) from a partition dim
    // (legitimately overlapping ranges, disjoint rows), so reads stay
    // permissive and `lake verify` carries the advisory
    val out = freshDir("lake_crosstag_")
    freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1000, 1030),
      chunkSize = 30)
    freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1000, 1030),
      chunkSize = 30, label = Some("run1"))
    val audits = Lake.audit(out)
    assert(audits.size == 2) // one group per tag vector
    audits.foreach { a =>
      assert(a.overlaps.isEmpty) // within a tag group the lake is clean
      assert(a.crossTagOverlaps.size == 1 && !a.overlapsTruncated)
    }
    // the untagged read really does see both files (30 blocks frozen
    // twice -> 60 rows) — the advisory is what stands between the
    // operator and silent row duplication
    assert(Lake.select(out, "blocks").size == 2)
    assert(Lake.read(spark, out, "blocks").count() == 60)
    assert(Lake.read(spark, out, "blocks", tag = Some("run1")).count() == 30)
    val df = Cli.runLake(Seq("verify", "--lake-dir", out, "--show", "0"), spark)
    assert(df.collect().forall(r =>
      r.getAs[Int]("n_cross_tag_overlaps") == 1 &&
        !r.getAs[Boolean]("overlaps_truncated")))
  }

  test("mixed-format and empty selections fail loudly") {
    val out = freshDir("lake_formats_")
    freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1000, 1030),
      chunkSize = 30)
    freeze(out, Seq("blocks"), blocks = BlockSyntax.Range(1030, 1060),
      chunkSize = 30, format = "json")
    val eMixed = intercept[IllegalArgumentException] {
      Lake.read(spark, out, "blocks")
    }
    assert(eMixed.getMessage.contains("mixed formats"))
    val eEmpty = intercept[IllegalArgumentException] {
      Lake.read(spark, out, "traces")
    }
    assert(eEmpty.getMessage.contains("no chunk files"))
  }

  test("object-store path: freeze/read/audit/compact on a non-file:// scheme") {
    // the graftfs: scheme resolves ONLY through the Hadoop FileSystem
    // API (GraftTestFs) — any lake operation still on java.nio fails
    // on these paths, so this is the executable form of the claim that
    // an s3a://, hdfs:// or custom-scheme lake works end to end
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val out = "graftfs:" + freshDir("lake_scheme_")

    // freeze straight to the scheme (mkdirs + skip-existing + tmp dir +
    // single-file promotion all cross the FileSystem API)
    val r1 = freeze(out, Seq("blocks", "transactions"), chunkSize = 20)
    assert(r1.completed.size == 6 && r1.errored.isEmpty)
    assert(r1.completed.forall(_.startsWith("graftfs:")))
    // idempotent re-run: skip-existing sees the scheme'd files
    val r2 = freeze(out, Seq("blocks", "transactions"), chunkSize = 20)
    assert(r2.skipped.size == 6 && r2.completed.isEmpty)

    // listing, selection pruning, audit — names-only ops over the scheme
    val files = Lake.listChunks(out)
    assert(files.size == 6 && files.forall(_.path.startsWith("graftfs:")))
    assert(Lake.select(out, "blocks",
      Some(BlockSyntax.Range(1005, 1010))).size == 1)
    val audit = Lake.audit(out)
    assert(audit.size == 2 &&
      audit.forall(a => a.gaps.isEmpty && a.overlaps.isEmpty))

    // data read-back through the scheme matches the direct silver
    val lakeBlocks = Lake.read(spark, out, "blocks")
    assert(lakeBlocks.count() == 60L)
    val direct = graft.chain.Freeze.builder("blocks")(Bronze.dir(spark, FixDir))
    assert(lakeBlocks.exceptAll(direct).isEmpty &&
      direct.exceptAll(lakeBlocks).isEmpty)

    // compaction: footer recount, merged write, promotion, deletes —
    // every move on the FileSystem API
    val merged = graft.chain.LakeCompact.compact(spark, out, targetBlocks = 60)
    assert(merged.nonEmpty && merged.forall(_.startsWith("graftfs:")))
    val post = Lake.listChunks(out)
    assert(post.size == 2 &&
      post.forall(f => f.start == 1000L && f.endInclusive == 1059L))
    assert(Lake.read(spark, out, "blocks").count() == 60L)
  }

  test("object-store overwrite-freeze: a polling reader never loses the chunk") {
    // r9's fallback for schemes without a FileContext binding was
    // delete+rename — an explicit --overwrite freeze had a window
    // where the chunk file did not exist. The promote path now streams
    // the staged bytes into create(target, overwrite=true): one PUT on
    // a store, old object visible until the new one commits.
    // GraftStoreFs models exactly that visibility (whole-object
    // publish on close), so a reader polling existence AND readability
    // through the overwrite must never miss.
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftstore.impl", classOf[GraftStoreFs].getName)
    val out = "graftstore:" + freshDir("lake_ow_")
    val r1 = freeze(out, Seq("blocks"), chunkSize = 60) // one chunk file
    assert(r1.completed.size == 1)
    val target = r1.completed.head
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String]
    val polls = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      val fs = graft.chain.LakeFs.fs(target)
      val p = new org.apache.hadoop.fs.Path(target)
      try while (!stop.get && bad.get == null) {
        if (!fs.exists(p)) bad.set("chunk missing during overwrite")
        else if (fs.getFileStatus(p).getLen == 0)
          bad.set("chunk truncated during overwrite")
        polls.incrementAndGet()
      } catch { case t: Throwable => bad.set(t.toString) }
    })
    reader.start()
    try for (_ <- 1 to 3) {
      val r = freeze(out, Seq("blocks"), chunkSize = 60, overwrite = true)
      assert(r.completed.size == 1 && r.errored.isEmpty)
    } finally { stop.set(true); reader.join(60000) }
    assert(bad.get == null, s"poller observed: ${bad.get} after ${polls.get} polls")
    assert(polls.get > 0)
    // the final chunk reads whole through the scheme
    assert(Lake.read(spark, out, "blocks").count() == 60L)
  }

  test("writeStringAtomic: replace publishes whole, stage self-heals") {
    import graft.chain.LakeFs
    val dir = freshDir("lake_wsa_")
    val p = s"$dir/schema.json"
    LakeFs.writeStringAtomic(p, "first")
    assert(LakeFs.readString(p) == "first")
    LakeFs.writeStringAtomic(p, "second — replaced, not truncated")
    assert(LakeFs.readString(p) == "second — replaced, not truncated")
    // no stage leftover after a clean publish
    assert(!LakeFs.exists(s"$p._tmp"))
    // a crash-leftover stage (orphan ._tmp) does not block the next
    // write and is consumed by it — the fixed sibling name self-heals
    LakeFs.writeString(s"$p._tmp", "torn leftover from a crash")
    LakeFs.writeStringAtomic(p, "third")
    assert(LakeFs.readString(p) == "third" && !LakeFs.exists(s"$p._tmp"))
  }

  test("single-PUT overwrite: a failed copy never commits a truncated object") {
    // the abort path of promote's store fallback: the staged read
    // explodes mid-copy (GraftBoomFs injects the fault); the promote
    // must rethrow WITHOUT closing the output — close IS the commit on
    // PUT-on-close connectors — so the old object survives intact
    import graft.chain.LakeFs
    import org.apache.hadoop.fs.{Path => HPath}
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftboom.impl", classOf[GraftBoomFs].getName)
    val dir = "graftboom:" + freshDir("lake_boom_")
    LakeFs.writeString(s"$dir/chunk.parquet", "OLD CONTENT INTACT")
    LakeFs.writeString(s"$dir/boom_staged", "NEW CONTENT THAT FAILS")
    val e = intercept[java.io.IOException](LakeFs.promote(
      new HPath(s"$dir/boom_staged"), new HPath(s"$dir/chunk.parquet")))
    assert(e.getMessage.contains("boom"))
    assert(LakeFs.readString(s"$dir/chunk.parquet") == "OLD CONTENT INTACT")
  }
}

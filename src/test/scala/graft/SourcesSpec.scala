package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark

  test("csv round-trips a table with header + inferred schema") {
    val dir = Files.createTempDirectory("graft_csv").toString + "/nation"
    val nation = SparkT.table("nation")
    nation.write.option("header", "true").csv(dir)
    val back = Tables.csv(spark, dir)
    assert(back.count() == nation.count())
    assert(back.columns.toSeq == nation.columns.toSeq)
    // full row equality after re-casting inferred types — checksums
    // alone would let a quoting/escaping bug slip through on the
    // comment column (it contains commas)
    val cast = back.select(nation.schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
    assert(cast.except(nation).count() == 0 && nation.except(cast).count() == 0)
  }

  test("json round-trips a table") {
    val dir = Files.createTempDirectory("graft_json").toString + "/region"
    val region = SparkT.table("region")
    region.write.json(dir)
    val back = Tables.json(spark, dir)
    assert(back.count() == region.count())
    // full row equality (JSON-lines reorders columns alphabetically —
    // select back into the original order)
    val ordered = back.select(region.columns.map(col): _*)
    assert(ordered.except(region).count() == 0 && region.except(ordered).count() == 0)
  }

  test("bucketed tables join without any exchange") {
    // a managed table's location survives the (in-memory) catalog across
    // JVMs — drop both the entry and any stale directory first
    Seq("orders_b", "lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    Tables.writeBucketed(SparkT.table("orders"), "orders_b", "o_orderkey", 8)
    Tables.writeBucketed(
      SparkT.table("lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 8)
    // broadcast would hide the exchange question entirely (and Spark
    // disables bucketed scans under it) — force the sort-merge path
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("lineitem_b").join(spark.table("orders_b"), "o_orderkey")
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(1200))
      assert(!p.contains("Exchange hashpartitioning"), p.take(1200))
      // AQE renders initial+final plans, so each side's bucketed scan
      // can appear twice — require at least both sides once
      assert("Bucketed: true".r.findAllIn(p).length >= 2, p.take(1200))
      assert(j.count() == SparkT.table("lineitem").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("declared q45_bucketed_join plan: sort-merge on bucketed scans, no hash exchange") {
    // the declared-query version of the contract above: the join AND
    // the follow-on aggregate ride the bucket partitioning (group key
    // = bucket key), so the only exchange in the whole plan is the
    // output ORDER BY's range partitioning
    val q = SparkEntry.queries("q45_bucketed_join")(spark, SparkT.sfDir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(1200))
    assert(!p.contains("Exchange hashpartitioning"),
      "bucketed join/agg must not shuffle:\n" + p.take(1200))
    assert("Bucketed: true".r.findAllIn(p).length >= 2, p.take(1200))
  }

  test("declared q44_skew_join plan: broadcast hot path + shuffle tail, result = plain join") {
    val q = SparkEntry.queries("q44_skew_join")(spark, SparkT.sfDir)
    val n = q.count()
    val plain = SparkT.table("lineitem")
      .join(SparkT.table("orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(n == plain, s"skew join produced $n rows, plain join $plain")
    q.collect()
    val exec = q.queryExecution.executedPlan
    val finalPlan = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val p = finalPlan.toString
    // both routes must exist: a broadcast join for the hot slice and
    // an ordinary join for the tail, unioned
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("Union"), p.take(1500))
    // ...and both must CARRY rows at runtime — with a threshold the
    // data never crosses, the hot route would be empty and the gate
    // vacuous (a duplication/loss bug in either route invisible).
    // AQE wraps materialized subtrees in QueryStageExec whose plan is
    // not a child — traverse through them explicitly.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def allNodes(pl: SparkPlan): Seq[SparkPlan] = {
      val kids = pl match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      pl +: kids.flatMap(allNodes)
    }
    val joinRows = allNodes(finalPlan).collect {
      case j if j.nodeName.contains("Join") =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    assert(joinRows.count(_ > 0) >= 2,
      s"both skew-join routes must process rows, got join row counts: $joinRows")
  }

  test("text and binaryFile sources feed the corpus/multimodal paths") {
    val dir = Files.createTempDirectory("graft_raw_src")
    Files.writeString(dir.resolve("a.txt"), "first line\nsecond line\n")
    Files.writeString(dir.resolve("b.txt"), "third line\n")
    // one row per line — the raw-corpus shape
    val lines = Tables.text(spark, dir.toString)
    assert(lines.count() == 3)
    assert(lines.columns.toSeq == Seq("value"))
    // one row per FILE (document-per-file layouts)
    val whole = Tables.text(spark, dir.toString, wholetext = true)
    assert(whole.count() == 2)
    // binaryFile: (path, modificationTime, length, content) — content
    // must round-trip bytes exactly and glob-prune at listing time
    Files.write(dir.resolve("img.bin"), Array[Byte](1, 2, 3, -1))
    val bin = Tables.binaryFiles(spark, dir.toString, pathGlob = "*.bin")
    val row = bin.select("length", "content").collect()
    assert(row.length == 1, "glob must prune the .txt files at listing")
    assert(row(0).getLong(0) == 4L)
    assert(row(0).getAs[Array[Byte]](1).toSeq == Seq[Byte](1, 2, 3, -1))
    // and the payload flows into the multimodal decode plumbing
    val media = bin.select(
      monotonically_increasing_id().as("doc_id"),
      lit("image").as("modality"), col("content").as("payload"),
      lit("application/octet-stream").as("media_type"),
      col("length").as("n_bytes"))
    val feats = graft.multimodal.Multimodal.decodeFeatures(media).collect()
    assert(feats.length == 1 && feats(0).codec == "stub")
  }

  test("sinks round-trip: csv and json preserve values, parquet/orc preserve schema") {
    val d = SparkT.table("nation")
    val base = java.nio.file.Files.createTempDirectory("graft_sinks").toString
    Tables.writeCsv(d, s"$base/csv")
    Tables.writeJson(d, s"$base/json")
    Tables.writeParquet(d, s"$base/parquet")
    Tables.writeOrc(d, s"$base/orc")
    val fromCsv = Tables.csv(spark, s"$base/csv")
    val fromJson = Tables.json(spark, s"$base/json")
    val fromParquet = spark.read.parquet(s"$base/parquet")
    val fromOrc = Tables.orc(spark, s"$base/orc")
    assert(fromCsv.count() == d.count() && fromJson.count() == d.count())
    assert(fromParquet.schema == d.schema)
    assert(fromOrc.schema == d.schema)
    // values survive the typed round-trips (parquet, orc)
    assert(fromParquet.exceptAll(d).count() == 0)
    assert(fromOrc.exceptAll(d).count() == 0)
  }

  test("orc scans push filters down like parquet") {
    val d = SparkT.table("lineitem")
    val base = java.nio.file.Files.createTempDirectory("graft_orc").toString
    Tables.writeOrc(d, s"$base/li")
    val q = Tables.orc(spark, s"$base/li")
      .filter(col("l_quantity") >= 30).select("l_orderkey", "l_quantity")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_quantity"),
      "filter must reach the ORC scan:\n" + scan.take(800))
    assert(q.count() == d.filter(col("l_quantity") >= 30).count())
  }

  test("partitioned sink lays out hive directories that prune on read") {
    val d = SparkT.table("customer")
    val base = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.writePartitioned(d, s"$base/c", Seq("c_mktsegment"))
    val dirs = new java.io.File(s"$base/c").listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.startsWith("c_mktsegment=")) && dirs.length >= 2)
    val one = spark.read.parquet(s"$base/c").filter(col("c_mktsegment") === "MACHINERY")
    val scan = one.queryExecution.executedPlan.toString
    // partition filter reaches the scan (directory pruning, no data read
    // outside the matching partition) — the filter must be INSIDE the
    // PartitionFilters bracket; an empty "PartitionFilters: []" with the
    // column name elsewhere in the plan (ReadSchema, a post-scan Filter)
    // would mean pruning regressed to a full read
    assert("PartitionFilters: \\[[^\\]]*c_mktsegment".r.findFirstIn(scan).isDefined,
      "c_mktsegment must appear inside PartitionFilters:\n" + scan.take(800))
    assert(one.count() == d.filter(col("c_mktsegment") === "MACHINERY").count())
  }

  test("declared q48 plan prunes partitions; q49 text round-trip is byte-exact") {
    // q48: the partition-column filter must land in PartitionFilters
    // (directory pruning before any I/O), not PushedFilters
    val q48 = SparkEntry.queries("q48_partitioned_prune")(spark, SparkT.sfDir)
    val plan = q48.queryExecution.executedPlan.toString
    // non-vacuous: the filter must sit INSIDE the PartitionFilters
    // bracket (FileSourceScanExec always prints the key, even empty)
    assert("PartitionFilters: \\[[^\\]]*l_returnflag".r.findFirstIn(plan).isDefined,
      "partition filter must prune directories at the scan:\n" + plan.take(800))
    // and the scan must actually select ONE directory (l_returnflag=R)
    // out of the three written — the pruned partition count itself
    // sparkPlan, not executedPlan: AQE wraps the executed tree in an
    // AdaptiveSparkPlanExec whose collectLeaves() hides the scan node
    val scans = q48.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.head.selectedPartitions.partitionCount == 1,
      s"expected 1 selected partition, got ${scans.map(_.selectedPartitions.partitionCount).mkString(",")}")
    // q49 reconstructs (doc_id, text) from the tab-joined lines — the
    // token stats only match the parquet oracle if text survives
    // byte-for-byte, but pin the reconstruction directly too
    val path = SparkEntry.ensureTextWritten(spark, SparkT.sfDir)
    val tabAt = instr(col("value"), "\t")
    val back = Tables.text(spark, path).select(
      substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
      col("value").substr(tabAt + 1, length(col("value"))).as("text"))
    val orig = SparkT.table("documents").select("doc_id", "text")
    assert(back.except(orig).count() == 0 && orig.except(back).count() == 0)
  }

  test("registerAll exposes every table to spark.sql") {
    Tables.registerAll(spark, SparkT.sfDir)
    val n = spark.sql(
      "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).collect()(0).getLong(0)
    assert(n > 0)
  }

  /** Spark jobs started while `body` runs. Listener events arrive in
    * order on the bus, so once a marked sentinel job's start has been
    * seen, every earlier job start has been counted. */
  private def jobsStartedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.sentinel") != null))
          drained.countDown()
        else started.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.sentinel", null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      started.get()
    } finally sc.removeSparkListener(l)
  }

  private def path(name: String) = s"${SparkT.sfDir}/$name.parquet"

  test("parquet schema memo: a warm read of an unchanged table starts no job") {
    Tables.load(spark, SparkT.sfDir, "lineitem").schema
    assert(jobsStartedBy(Tables.load(spark, SparkT.sfDir, "lineitem").schema) == 0)
    // the control: the plain read infers with a job on every call
    assert(jobsStartedBy(spark.read.parquet(path("lineitem")).schema) >= 1)
  }

  test("parquet schema memo: memoized schema equals the inferred one on every table") {
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.output.map(a => (a.name, a.dataType, a.nullable))
    Tables.allTables.foreach { t =>
      val inferred = spark.read.parquet(path(t))
      Tables.load(spark, SparkT.sfDir, t)
      val warm = Tables.load(spark, SparkT.sfDir, t)
      assert(warm.schema == inferred.schema, t)
      assert(shape(warm) == shape(inferred), t)
    }
  }

  test("parquet schema memo: a self-join of two loads keeps fresh attribute ids") {
    def pairs(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.join(b, a("o_custkey") === b("o_custkey") && a("o_orderkey") < b("o_orderkey"))
        .select(a("o_orderkey").as("x"), b("o_orderkey").as("y"))
    val (a, b) = (Tables.load(spark, SparkT.sfDir, "orders"),
      Tables.load(spark, SparkT.sfDir, "orders"))
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) & ids(b)).isEmpty)
    val got = pairs(a, b)
    val want = pairs(spark.read.parquet(path("orders")), spark.read.parquet(path("orders")))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("parquet schema memo: an overwritten path is re-inferred on the next read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_memo").toString
    // a directory of part files
    Seq(1, 2).toDF("a").write.mode("overwrite").parquet(s"$dir/t")
    Tables.parquet(spark, s"$dir/t"); Tables.parquet(spark, s"$dir/t")
    Seq("x").toDF("b").write.mode("overwrite").parquet(s"$dir/t")
    val back = Tables.parquet(spark, s"$dir/t")
    assert(back.columns.toSeq == Seq("b"))
    assert(back.as[String].collect().toSeq == Seq("x"))
    // a single file replaced in place
    def part(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    val file = java.nio.file.Paths.get(s"$dir/one.parquet")
    Seq(1L).toDF("a").coalesce(1).write.parquet(s"$dir/p1")
    Seq(2.5).toDF("c").coalesce(1).write.parquet(s"$dir/p2")
    Files.copy(part(s"$dir/p1"), file)
    Tables.parquet(spark, file.toString); Tables.parquet(spark, file.toString)
    Files.copy(part(s"$dir/p2"), file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.parquet(spark, file.toString).columns.toSeq == Seq("c"))
  }

  test("parquet schema memo: changing spark.sql.parquet.binaryAsString re-infers") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // written without Spark's schema metadata (which would pin the
    // type): a bare BINARY column is exactly what the conf governs
    val file = Files.createTempDirectory("graft_memo_bin").toString + "/b.parquet"
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi")) finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    def bType = Tables.parquet(spark, file).schema("b").dataType
    try {
      spark.conf.set(key, "false")
      assert(bType == BinaryType); assert(bType == BinaryType)
      spark.conf.set(key, "true")
      assert(bType == StringType)
      assert(Tables.parquet(spark, file).collect().head.getString(0) == "hi")
      spark.conf.set(key, "false")
      assert(bType == BinaryType)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("parquet schema memo: a partitioned directory is never memoized") {
    val dir = Files.createTempDirectory("graft_memo_part").toString + "/p"
    Tables.writePartitioned(SparkT.table("nation").select("n_nationkey", "n_regionkey"),
      dir, Seq("n_regionkey"))
    Tables.parquet(spark, dir)
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { df = Tables.parquet(spark, dir) } >= 1)
    assert(df.columns.toSeq == Seq("n_nationkey", "n_regionkey"))
    assert(df.filter(col("n_regionkey") === 1).count() ==
      SparkT.table("nation").filter(col("n_regionkey") === 1).count())
  }
}

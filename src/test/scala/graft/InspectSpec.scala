package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.{GenScale, Inspect}

class InspectSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark

  test("Inspect final prints the executed AQE plan (isFinalPlan=true)") {
    for (name <- Seq("q16_tpch_q3", "q45_bucketed_join")) {
      val out = Inspect.render(spark, "final", SparkT.sfDir, name)
      assert(out.contains("isFinalPlan=true"), s"$name:\n${out.take(1500)}")
      assert(!out.contains("isFinalPlan=false"), s"$name:\n${out.take(1500)}")
    }
    // control: a noop write runs a NEW QueryExecution and leaves the
    // query's own plan unexecuted — the approach `final` replaces
    val df = SparkEntry.queries("q16_tpch_q3")(spark, SparkT.sfDir)
    df.write.format("noop").mode("overwrite").save()
    assert(df.queryExecution.executedPlan.toString.contains("isFinalPlan=false"))
  }

  test("Inspect plan is the pre-execution plan; show prints every row") {
    val plan = Inspect.render(spark, "plan", SparkT.sfDir, "q16_tpch_q3")
    assert(plan.contains("isFinalPlan=false"), plan.take(1500))
    val q = SparkEntry.queries("q16_tpch_q3")(spark, SparkT.sfDir)
    val lines = Inspect.render(spark, "show", SparkT.sfDir, "q16_tpch_q3").split("\n").toSeq
    assert(lines.head == "== q16_tpch_q3 ==")
    assert(lines(1) == q.columns.mkString("\t"))
    assert(lines.size - 2 == q.count())
  }

  test("Inspect profile is one JSON line with jobs, stages and the three tracker phases") {
    val line = Inspect.render(spark, "profile", SparkT.sfDir, "q16_tpch_q3")
    assert(!line.contains("\n"))
    val rec = new ObjectMapper().readTree(line)
    assert(rec.get("query").asText == "q16_tpch_q3")
    assert(rec.get("jobs").asInt >= 1, line)
    assert(rec.get("stages").asInt >= 1, line)
    assert(rec.get("stage_list").size == rec.get("stages").asInt, line)
    for (p <- Seq("analysis", "optimization", "planning"))
      assert(rec.get("phases").get(p).isNumber, s"$p missing: $line")
    assert(rec.get("exec_s").asDouble > 0, line)
    // q16 joins and aggregates: something must cross a shuffle
    assert(rec.get("shuffle_write_bytes").asLong > 0, line)
  }

  test("only GraftSession builds a session or reads SPARK_GRAFT_CPUS") {
    val guarded = "SparkSession\\.builder|SPARK_GRAFT_CPUS".r
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val hits = files(new java.io.File("src/main")).filter { f =>
      guarded.findFirstIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).isDefined
    }.map(_.getPath.replace('\\', '/'))
    assert(hits.toSet == Set("src/main/scala/graft/api/GraftSession.scala"), hits)
  }

  test("GenScale vocabulary shifts are non-zero and distinct for every copy") {
    val k = 10
    for (n <- Seq(17, 34, 153)) {
      val shifts = (1 until k).map(GenScale.vocabShift(_, n, k) % n)
      assert(shifts.forall(_ != 0), s"n=$n: $shifts")
      assert(shifts.distinct.size == k - 1, s"n=$n: $shifts")
    }
    intercept[IllegalArgumentException](GenScale.vocabShift(1, k, k))
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.GraftSession

/** Dev-only scale-up probe data generator (NOT on any query/bench
  * correctness path): builds an approximately-sf1 dataset from the
  * driver's read-only sf0.1 tables as K disjoint key-shifted copies,
  * so the round-17 scale probe can measure which query costs actually
  * GROW with data — at sf0.1 the whole suite is fixed-cost-bound
  * (local[8] beat local[32] on 166/170 queries in the driver's own r16
  * runs; VERDICT.md item 1 asks for exactly this probe).
  *
  * Construction (fully deterministic, no RNG):
  *   - region/nation: copied verbatim (dimension tables).
  *   - customer/supplier/part/orders/lineitem/events: copy i shifts
  *     every primary AND foreign key by i*SHIFT, so the K copies are
  *     disjoint shards of the same universe — join selectivities,
  *     group cardinalities per key, and skew shape are preserved; data
  *     volume and distinct-key counts grow K-fold.
  *   - documents: doc_id shifted; copy i>0 additionally remaps every
  *     word through a rotation of the corpus vocabulary (word w ->
  *     vocab[(idx(w) + vocabShift(i)) mod V]). Within-copy shingle/dup
  *     structure is preserved exactly; across copies no shingle
  *     matches, so the dedup self-joins don't see a K^2 blowup of
  *     artificial exact duplicates that real corpus growth would not
  *     have. n_chars is recomputed from the remapped text.
  *   - embeddings: vec_id shifted; copy i>0 perturbs each element by a
  *     deterministic hash-derived epsilon (±1%), so ANN/k-means paths
  *     don't degenerate into K identical copies of every point.
  *
  * The output is measurement-only input data; nothing in the engine
  * reads it unless $SPARK_GRAFT_SF_DIR points at it.
  *
  * usage: GenScale <srcDir> <destDir> [copies=10]
  */
object GenScale {
  private val Shift = 10000000L

  /** Vocabulary rotation for document copy `i` of `k` over a vocabulary
    * of `n` words: `i` itself, so every copy 1..k−1 gets a non-zero
    * rotation distinct from every other copy's. A stride such as
    * `i * 17` is the identity whenever `n` divides it, which would make
    * that copy's text an exact duplicate of copy 0. */
  private[graft] def vocabShift(i: Int, n: Int, k: Int): Int = {
    require(n > k, s"vocabulary of $n words cannot give $k copies distinct rotations")
    require(i >= 1 && i < k, s"copy $i has no rotation (copies 1..${k - 1} do)")
    i
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenScale <srcDir> <destDir> [copies]")
    val src = args(0); val dest = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local(appName = "graft-genscale")
    import spark.implicits._

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$t.parquet")
      println(s"[genscale] wrote $t (${spark.read.parquet(s"$dest/$t.parquet").count()} rows)")
    }
    def copies(df: DataFrame, shiftCols: Seq[String]): DataFrame =
      (0 until k).map { i =>
        shiftCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * Shift)))
      }.reduce(_ unionByName _)

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    wr(copies(rd("customer"), Seq("c_custkey")), "customer")
    wr(copies(rd("supplier"), Seq("s_suppkey")), "supplier")
    wr(copies(rd("part"), Seq("p_partkey")), "part")
    wr(copies(rd("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    wr(copies(rd("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    wr(copies(rd("events"), Seq("event_id", "user_id")), "events")

    // documents: per-copy vocabulary rotation (see scaladoc)
    val docs = rd("documents")
    val vocab = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct().orderBy("w").as[String].collect()
    val vIdx = vocab.zipWithIndex.toMap
    val n = vocab.length
    println(s"[genscale] documents vocab size $n")
    val docCopies = (0 until k).map { i =>
      if (i == 0) docs
      else {
        val shift = vocabShift(i, n, k)
        val rot: Map[String, String] =
          vocab.map(w => w -> vocab((vIdx(w) + shift) % n)).toMap
        val rotB = spark.sparkContext.broadcast(rot)
        val remap = udf((t: String) =>
          if (t == null) null
          else t.split(" ", -1).map(w => rotB.value.getOrElse(w, w)).mkString(" "))
        docs.withColumn("doc_id", col("doc_id") + lit(i * Shift))
          .withColumn("text", remap(col("text")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }.reduce(_ unionByName _)
    wr(docCopies, "documents")

    // embeddings: deterministic per-copy perturbation of each element
    val emb = rd("embeddings")
    val embCopies = (0 until k).map { i =>
      if (i == 0) emb
      else emb
        .withColumn("vec_id", col("vec_id") + lit(i * Shift))
        .withColumn("embedding", expr(
          s"""transform(embedding, (x, j) ->
             |  cast(x * (1.0d + (pmod(xxhash64(vec_id, j, $i), 2001L) - 1000L) / 100000.0d) as float))"""
            .stripMargin))
    }.reduce(_ unionByName _)
    wr(embCopies, "embeddings")

    spark.stop()
  }
}

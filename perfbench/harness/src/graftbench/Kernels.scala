package graftbench

import org.apache.spark.sql.SparkSession

/** ns/row of graft's SQL kernels over a fixed generated input: each
  * kernel's expression is evaluated over the same cached rows and folded
  * into one hash sum, so every output value is computed. The figure
  * includes the scan of the cached input and the fold (median of 3).
  */
object Kernels {
  val Rows = 20000

  private val exprs: Seq[(String, String)] = Seq(
    "jaccard_sim_sorted_bail" -> "jaccard_sim_sorted_bail(set_a, set_b, 0.49995)",
    "minhash_sig" -> "minhash_sig(set_a)",
    "minhash_bands" -> "minhash_bands(set_a)",
    "simhash64" -> "simhash64(set_a)",
    "cosine_sim" -> "cosine_sim(vec_a, vec_b)",
    "hyperplane_packed16" -> "hyperplane_packed16(vec_a, 48, 16)",
    "first_shared_lane16" -> "first_shared_lane16(psig_a, psig_b, 48)")

  def measure(spark: SparkSession): Map[String, Double] = {
    val input = spark.range(Rows).selectExpr(
      "id",
      "array_sort(array_distinct(transform(sequence(0, 24), i -> " +
        "concat('w', cast(pmod(hash(id, i), 300) AS string))))) AS set_a",
      "array_sort(array_distinct(transform(sequence(0, 24), i -> " +
        "concat('w', cast(pmod(hash(id + (i % 3), i), 300) AS string))))) AS set_b",
      "transform(sequence(0, 63), i -> sin(id * 0.37 + i)) AS vec_a",
      "transform(sequence(0, 63), i -> sin(id * 0.37 + i + 0.01 * (id % 7))) AS vec_b")
      .selectExpr("*", "hyperplane_packed16(vec_a, 48, 16) AS psig_a",
        "hyperplane_packed16(vec_b, 48, 16) AS psig_b")
      .repartition(4).cache()
    input.count()
    def time(sql: => Unit): Double = {
      val t = (0 until 3).map { _ =>
        val t0 = System.nanoTime(); sql; (System.nanoTime() - t0).toDouble
      }.sorted
      t(1) / Rows
    }
    val scalar = exprs.map { case (name, e) =>
      input.selectExpr(s"hash($e) AS h").agg(org.apache.spark.sql.functions.sum("h")).collect()
      name -> time(input.selectExpr(s"hash($e) AS h")
        .agg(org.apache.spark.sql.functions.sum("h")).collect())
    }
    val topk = "topk_by" -> {
      val q = () => input.selectExpr("id % 1000 AS g", "id", "sin(id * 1.3) AS score")
        .groupBy("g").agg(org.apache.spark.sql.functions.expr("topk_by(id, score, 5)").as("t"))
        .selectExpr("hash(t) AS h").agg(org.apache.spark.sql.functions.sum("h")).collect()
      q()
      time(q())
    }
    input.unpersist()
    (scalar :+ topk).toMap
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.CosineSim

/** The engine's native kernels, each called alone over a staged fixture
  * column and materialized through the noop sink: the kernel's own cost,
  * apart from the queries that compose it. Median of three calls. */
object Kernels {
  val names: Seq[String] =
    Seq("minhash_sigs", "jaccard_sim", "cosine_sim", "ngram_hashes", "pq_nearest")

  private def staged(df: DataFrame): DataFrame = { df.cache(); df.count(); df }

  def time(spark: SparkSession, data: String): Map[String, Double] = {
    CosineSim.register(spark)
    val toks = staged(Tables.documents(spark, data)
      .selectExpr("transform(split(text, ' '), w -> poly_hash(w)) AS tokh"))
    val shingles = staged(toks.selectExpr("ngram_hashes(tokh, 3) AS shl")
      .filter("size(shl) >= 2"))
    val pairs = staged(shingles.selectExpr("shl AS a", "slice(shl, 2, size(shl)) AS b"))
    val emb = Tables.embeddings(spark, data)
    val vecPairs = staged(emb.selectExpr("embedding AS e")
      .crossJoin(emb.filter("vec_id < 50").selectExpr("embedding AS q")))
    val sub = "transform(slice(embedding, 1, 8), x -> CAST(x AS DOUBLE))"
    val cands = emb.filter("vec_id < 16")
      .selectExpr(s"struct(vec_id AS code, $sub AS centroid) AS c")
      .selectExpr("collect_list(c) AS cands")
    val pq = staged(emb.selectExpr(s"$sub AS sv").crossJoin(cands))
    val calls = Seq(
      "ngram_hashes" -> toks.selectExpr("ngram_hashes(tokh, 3)"),
      "minhash_sigs" -> shingles.selectExpr("minhash_sigs(shl, 64)"),
      "jaccard_sim" -> pairs.selectExpr("jaccard_sim(a, b)"),
      "cosine_sim" -> vecPairs.selectExpr("cosine_sim(e, q)"),
      "pq_nearest" -> pq.selectExpr("pq_nearest(sv, cands)"))
    try calls.map { case (k, df) =>
      s"functions.${k}_s" -> Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      })
    }.toMap
    finally Seq(toks, shingles, pairs, vecPairs, pq).foreach(_.unpersist())
  }
}

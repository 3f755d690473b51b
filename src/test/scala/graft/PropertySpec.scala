package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic laws (SURVEY.md §5.4). scalacheck generates the data; the
  * pure-Scala law is checked exhaustively, and Spark-backed laws batch all
  * generated cases into one DataFrame so the suite stays fast. */
class PropertySpec extends AnyFunSuite with SparkFixture {

  // Scala mirror of the W4 ntile arithmetic (Windows.scala): first n%k
  // buckets take ceil(n/k) rows, the rest floor(n/k).
  private def ntileOf(rank: Long, n: Long, k: Long): Long = {
    val base = n / k
    val rem = n % k
    if (rank <= rem * (base + 1)) (rank - 1) / (base + 1) + 1
    else rem + (rank - 1 - rem * (base + 1)) / base + 1
  }

  test("ntile arithmetic: 1-based, monotone, bucket sizes split ceil/floor") {
    (1L to 500L).foreach { n =>
      val buckets = (1L to n).map(r => ntileOf(r, n, 4))
      assert(buckets.head == 1L)
      assert(buckets.zip(buckets.tail).forall { case (a, b) => b - a == 0 || b - a == 1 })
      val sizes = buckets.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val expectedBuckets = math.min(n, 4L)
      assert(sizes.keySet == (1L to expectedBuckets).toSet)
      if (n >= 4) {
        assert(sizes.values.max - sizes.values.min <= 1)
        assert(sizes.values.sum == n)
        // the oversized buckets come first
        assert(sizes(1L) >= sizes(expectedBuckets))
      }
    }
  }

  // Scala mirror of the portable polynomial hash (TextOps/NearDup).
  private def polyScala(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % 1000000007L)

  test("portable hash: Spark's split-based SQL form equals char iteration") {
    import spark.implicits._
    val strs = Gen.listOfN(80,
      Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString))
      .sample.get :+ "a" :+ "the fast key order"
    val got = strs.toDF("s")
      .select(col("s"), expr(
        "aggregate(filter(split(s, ''), ch -> ch <> ''), 0L, " +
          "(h, ch) -> (h * 31 + ascii(ch)) % 1000000007)").as("h"))
      .as[(String, Long)].collect().toMap
    strs.foreach { s =>
      assert(got(s) == polyScala(s), s"hash mismatch for '$s'")
      assert(got(s) >= 0 && got(s) < 1000000007L)
    }
  }

  test("native poly_hash ≡ the SQL HOF form (incl. empty + non-ASCII)") {
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    // alpha strings + edge cases: empty string (HOF's filter leaves no
    // chars → seed 0), multi-byte code points (é, 中, 𝄞 — the last is a
    // surrogate pair, exercising the code-point fallback path)
    val strs = Gen.listOfN(60,
      Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString))
      .sample.get :+ "" :+ "café" :+ "中文 text" :+ "clef 𝄞 here"
    val rows = strs.toDF("s")
      .select(col("s"), expr("poly_hash(s)").as("nat"), expr(
        "aggregate(filter(split(s, ''), ch -> ch <> ''), 0L, " +
          "(h, ch) -> (h * 31 + ascii(ch)) % 1000000007)").as("hof"))
      .as[(String, Long, Long)].collect()
    rows.foreach { case (s, nat, hof) =>
      assert(nat == hof, s"poly_hash mismatch for '$s': $nat vs $hof")
    }
  }

  test("labelPropagation ≡ union-find on random graphs") {
    import spark.implicits._
    // scalacheck edges over 30 vertices: mixed components, self-dups,
    // both orientations — the shapes pair-dropping gets wrong
    val edges = Gen.listOfN(40, for {
      a <- Gen.choose(0L, 29L); b <- Gen.choose(0L, 29L) if a != b
    } yield (math.min(a, b), math.max(a, b))).sample.get.distinct
    // driver-side oracle: plain union-find with path compression
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(v: Long): Long = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> find(v)).toMap
    // find() roots at the min id per component because unions keep the min
    val got = graft.queries.NearDup.labelPropagation(edges.toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"diff: ${got.toSet.diff(expected.toSet)}")
  }

  test("starContraction ≡ labelPropagation on random graphs and a deep chain") {
    import spark.implicits._
    val rnd = Gen.listOfN(45, for {
      a <- Gen.choose(0L, 24L); b <- Gen.choose(0L, 24L) if a != b
    } yield (math.min(a, b), math.max(a, b))).sample.get.distinct
    val chain = (100L until 117L).map(i => (i, i + 1)) // deep path component
    val pairs = (rnd ++ chain).toDF("id1", "id2")
    val viaStars = graft.queries.NearDup.starContraction(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val viaLabels = graft.queries.NearDup.labelPropagation(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(viaStars == viaLabels,
      s"stars-only: ${viaStars.diff(viaLabels)}; labels-only: ${viaLabels.diff(viaStars)}")
    // the chain component must collapse to its minimum
    assert((100L to 117L).forall(v => viaStars.contains(v -> 100L)))
  }

  test("native ngram_hashes ≡ the HOF distinct-combine form (n=3 and n=5)") {
    graft.functions.CosineSim.register(spark)
    val tokh = graft.Tables.documents(spark, sfSmall)
      .select(expr("transform(split(lower(trim(text)), ' '), t -> poly_hash(t))").as("tokh"))
    val diff3 = tokh.select(
      expr("ngram_hashes(tokh, 3)").as("nat"),
      expr("array_distinct(IF(size(tokh) >= 3, transform(sequence(0, size(tokh) - 3), " +
        "i -> (((tokh[i] * 8191 + tokh[i+1]) % 1000000007) * 8191 " +
        "+ tokh[i+2]) % 1000000007), array()))").as("hof"))
      .filter(col("nat") =!= col("hof")).count()
    assert(diff3 == 0L)
    val diff5 = tokh.filter(size(col("tokh")) >= 5).select(
      expr("ngram_hashes(tokh, 5)").as("nat"),
      expr("array_distinct(transform(sequence(0, size(tokh) - 5), " +
        "i -> ((((((((tokh[i] * 8191 + tokh[i+1]) % 1000000007) * 8191) " +
        "+ tokh[i+2]) % 1000000007) * 8191 + tokh[i+3]) % 1000000007) " +
        "* 8191 + tokh[i+4]) % 1000000007))").as("hof"))
      .filter(col("nat") =!= col("hof")).count()
    assert(diff5 == 0L)
  }

  test("native ngram_hashes_pos ≡ the HOF per-window fold (rolling, n=5/50)") {
    graft.functions.CosineSim.register(spark)
    val tokh = graft.Tables.documents(spark, sfSmall)
      .select(expr("transform(split(lower(trim(text)), ' '), t -> poly_hash(t))").as("tokh"))
    def hof(n: Int): String =
      s"IF(size(tokh) >= $n, transform(sequence(0, size(tokh) - $n), " +
        s"i -> aggregate(sequence(1, ${n - 1}), tokh[i], " +
        "(h, k) -> (h * 8191 + tokh[i + k]) % 1000000007)), " +
        "CAST(array() AS ARRAY<BIGINT>))"
    for (n <- Seq(5, 50)) {
      val diff = tokh
        .select(expr(s"ngram_hashes_pos(tokh, $n)").as("nat"), expr(hof(n)).as("hof"))
        .filter(col("nat") =!= col("hof")).count()
      assert(diff == 0L, s"rolling form diverged from the fold at n=$n")
    }
    // the distinct of the positional form IS the set form
    val dset = tokh.select(
        expr("array_sort(array_distinct(ngram_hashes_pos(tokh, 5)))").as("a"),
        expr("array_sort(ngram_hashes(tokh, 5))").as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(dset == 0L)
    // out-of-domain values (≥ p: not poly_hash outputs) take the fold
    // fallback and still equal the HOF form bit-for-bit
    val ood = spark.sql(
        "SELECT transform(sequence(0, 19), i -> 2000000000L + i * 7L) AS tokh")
      .select(expr("ngram_hashes_pos(tokh, 4)").as("nat"),
        expr("transform(sequence(0, size(tokh) - 4), i -> aggregate(sequence(1, 3), " +
          "tokh[i], (h, k) -> (h * 8191 + tokh[i + k]) % 1000000007))").as("hof"))
      .filter(col("nat") =!= col("hof")).count()
    assert(ood == 0L)
  }

  test("native ngram_hashes_pos_b ≡ the reduce-then-fold HOF twin (any longs)") {
    graft.functions.CosineSim.register(spark)
    // fixture tokh (poly_hash domain) AND adversarial values: past both
    // moduli, negative, exactly P₂ — the reduce-first fold has no
    // fallback branch, so one law covers every input
    val frames = Seq(
      graft.Tables.documents(spark, sfSmall)
        .select(expr("transform(split(lower(trim(text)), ' '), t -> poly_hash(t))").as("tokh")),
      spark.sql("SELECT array(874563L, 2000000008L, -7L, 998244353L, 12L, " +
        "999999999L, 0L, 998244352L) AS tokh"))
    def hof(n: Int): String =
      s"IF(size(tokh) >= $n, transform(sequence(0, size(tokh) - $n), " +
        s"i -> aggregate(sequence(1, ${n - 1}), " +
        "((tokh[i] % 998244353) + 998244353) % 998244353, " +
        "(h, k) -> (h * 131 + ((tokh[i + k] % 998244353) + 998244353) % 998244353) " +
        "% 998244353)), CAST(array() AS ARRAY<BIGINT>))"
    for (df <- frames; n <- Seq(3, 5)) {
      val diff = df
        .select(expr(s"ngram_hashes_pos_b(tokh, $n)").as("nat"), expr(hof(n)).as("hof"))
        .filter(col("nat") =!= col("hof")).count()
      assert(diff == 0L, s"second-modulus rolling form diverged from the fold at n=$n")
    }
    // independence sanity: the two moduli disagree on real data (a pair
    // key equal to either single key would be no guard at all)
    val same = frames.head.filter(size(col("tokh")) >= 5)
      .select(expr("ngram_hashes_pos(tokh, 5)").as("a"),
        expr("ngram_hashes_pos_b(tokh, 5)").as("b"))
      .filter(col("a") === col("b")).count()
    assert(same == 0L, "first- and second-modulus gram arrays coincided")
  }

  test("BPE double-space replace ≡ one-pass greedy merge on degenerate runs") {
    import spark.implicits._
    // The load-bearing claim under text_bpe_train/encode (VERDICT r12 #3):
    // SQL replace's leftmost-non-overlapping scan over the double-space
    // symbol encoding IS one greedy left-to-right BPE merge pass. Golden
    // pins cover monotone counts and it=1; this pins the OVERLAP edge —
    // runs like `a a a a` under rule (a,a) must merge to (aa)(aa), never
    // re-match inside a replacement ((aa,a,a) or (a,(aa),a) would both be
    // wrong). DuckDB's replace was spot-checked to the same semantics
    // (' a  a  a  a ' → ' aa  aa ', ' aa  aa  aa ' with rule (aa,aa) →
    // ' aaaa  aa '), so the Spark-side law here pins both engines' shared
    // contract.
    def greedy(syms: List[String], s1: String, s2: String): List[String] =
      syms match {
        case a :: b :: rest if a == s1 && b == s2 =>
          (a + b) :: greedy(rest, s1, s2)
        case a :: rest => a :: greedy(rest, s1, s2)
        case Nil => Nil
      }
    val words = Seq("aaaa", "aaa", "aaaaa", "aaaaaa", "baaab", "aabaa")
    val rules = Seq(("a", "a"), ("aa", "aa"), ("b", "a"), ("a", "b"))
    for ((s1, s2) <- rules) {
      val got = words.toDF("w")
        .select(col("w"), expr(
          "concat(' ', array_join(transform(sequence(1, length(w)), " +
            "i -> substring(w, i, 1)), '  '), ' ')").as("ws"))
        .select(col("w"), expr(
          s"split(trim(replace(ws, ' $s1  $s2 ', ' $s1$s2 ')), '  ')").as("syms"))
        .as[(String, Seq[String])].collect().toMap
      for (w <- words) {
        val want = greedy(w.toList.map(_.toString), s1, s2)
        assert(got(w).toList == want,
          s"replace([$s1,$s2]) on '$w': got ${got(w).toList}, want $want")
      }
    }
  }

  test("native simhash_sig ≡ the HOF double-aggregate form on fixture sets") {
    graft.functions.CosineSim.register(spark)
    val sets = graft.Tables.documents(spark, sfSmall)
      .select(expr("transform(split(lower(trim(text)), ' '), t -> poly_hash(t))").as("tokh"))
      .select(expr(
        "array_distinct(IF(size(tokh) >= 3, transform(sequence(0, size(tokh) - 3), " +
          "i -> (((tokh[i] * 8191 + tokh[i+1]) % 1000000007) * 8191 " +
          "+ tokh[i+2]) % 1000000007), array()))").as("shl"))
      .filter(size(col("shl")) >= 2)
    val diff = sets.select(
      expr("simhash_sig(shl, 64)").as("nat"),
      expr("aggregate(sequence(0, 63), 0L, (acc, k) -> acc + " +
        "IF(aggregate(shl, 0L, (s2, x) -> s2 + " +
        "IF((((1103515245L * (((2 * k + 1) * x + k * k * 7919 + 1) % 1000000007L) " +
        "+ 12345L) % 2147483648L) div 32768L) % 2L = 1L, 1L, -1L)) >= 0L, " +
        "shiftleft(CAST(1 AS BIGINT), k), 0L))").as("hof"))
      .filter(col("nat") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("native minhash_sigs ≡ the HOF permutation-minima form on fixture sets") {
    graft.functions.CosineSim.register(spark)
    // the real shingle-set distribution: tokenize + shingle the sf0.001
    // docs exactly as the near-dup index does
    val sets = graft.Tables.documents(spark, sfSmall)
      .select(expr("transform(split(lower(trim(text)), ' '), t -> poly_hash(t))").as("tokh"))
      .select(expr(
        "array_distinct(IF(size(tokh) >= 3, transform(sequence(0, size(tokh) - 3), " +
          "i -> (((tokh[i] * 8191 + tokh[i+1]) % 1000000007) * 8191 " +
          "+ tokh[i+2]) % 1000000007), array()))").as("shl"))
      .filter(size(col("shl")) >= 2)
    val diff = sets.select(
      expr("minhash_sigs(shl, 16)").as("nat"),
      expr("transform(sequence(0, 15), p -> array_min(transform(shl, " +
        "x -> ((2 * p + 1) * x + (p * p * 7919 + 1)) % 1000000007)))").as("hof"))
      .filter(col("nat") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("exact dedup is idempotent") {
    import spark.implicits._
    val docs = Gen.listOfN(60, Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
      .sample.get.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    def dedup(d: org.apache.spark.sql.DataFrame) =
      d.groupBy(sha2(lower(trim(col("text"))), 256).as("text"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id", "text")
    val once = dedup(df).collect().toSet
    val twice = dedup(dedup(df)).collect().toSet
    assert(dedup(df).count() == docs.map(_._2).distinct.size)
    assert(twice.size == once.size)
  }

  test("cosine(v, v) = 1 for random non-zero vectors (SQL form)") {
    import spark.implicits._
    val vecs = Gen.listOfN(40,
      Gen.listOfN(16, Gen.choose(-5.0f, 5.0f))
        .suchThat(v => v.exists(x => math.abs(x) > 0.01)))
      .sample.get.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    def dot(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), 0D, (acc, x) -> acc + x)"
    val cos = vecs.toDF("id", "v")
      .select(expr(s"${dot("v", "v")} / (sqrt(${dot("v", "v")}) * sqrt(${dot("v", "v")}))"))
      .as[Double].collect()
    assert(cos.forall(c => math.abs(c - 1.0) < 1e-9))
  }

  test("native cosine_sim expression is bit-identical to the HOF formula") {
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    val vecs = Gen.listOfN(60, Gen.listOfN(64, Gen.choose(-1.0f, 1.0f)))
      .sample.get.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    def dot(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    val df = vecs.toDF("id", "v").crossJoin(
      vecs.take(5).toDF("id2", "w").select(col("w")))
    val rows = df.select(
      expr("cosine_sim(v, w)").as("native"),
      expr(s"${dot("v", "w")} / (sqrt(${dot("v", "v")}) * sqrt(${dot("w", "w")}))")
        .as("hof")).as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, h) =>
      assert(java.lang.Double.compare(n, h) == 0, s"native=$n hof=$h")
    }
  }

  test("native pq_nearest ≡ the array_min(transform(...)) form it replaced") {
    // the PQ encode min-scan (LlmSimilarity.pqAssign): same FP
    // accumulation order (0D + ascending-index squared diffs), same
    // HALF_UP round-6, same (d, code) tie-break. Duplicated centroids
    // force exact d-ties so the code tie-break is actually exercised.
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    val rnd = new scala.util.Random(20260816L)
    val subs = (0 until 200).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f).toSeq)
    }
    val cents = (0 until 16).map { c =>
      val base = if (c % 4 == 3) c - 1 else c // every 4th duplicates its
      val r2 = new scala.util.Random(base.toLong) // predecessor → d-ties
      (c.toLong, Array.fill(8)(math.rint(r2.nextDouble() * 100) / 100).toSeq)
    }
    val unrolled = (0 until 8).map(i =>
      s"(CAST(sv[$i] AS DOUBLE) - c.centroid[$i]) * " +
        s"(CAST(sv[$i] AS DOUBLE) - c.centroid[$i])")
      .mkString("(0D + ", " + ", ")")
    val cl = cents.toDF("code", "centroid")
      .agg(collect_list(struct(col("code"), col("centroid"))).as("cl"))
    val rows = subs.toDF("vec_id", "sv").crossJoin(broadcast(cl))
      .withColumn("nat", expr("pq_nearest(sv, cl)"))
      .withColumn("hof", expr(
        "array_min(transform(cl, c -> named_struct(" +
          s"'d', round($unrolled, 6), 'code', c.code)))"))
      .select(col("vec_id"), col("nat.d"), col("nat.code"),
        col("hof.d"), col("hof.code"))
      .as[(Long, Double, Long, Double, Long)].collect()
    assert(rows.length == 200)
    rows.foreach { case (id, nd, nc, hd, hc) =>
      assert(java.lang.Double.compare(nd, hd) == 0 && nc == hc,
        s"diverged at vec $id: native ($nd, $nc) vs HOF ($hd, $hc)")
    }
    // the tie-break is real: a mod-4-3 code duplicates its predecessor's
    // centroid, so it can never win (the lower code takes every exact tie)
    assert(rows.forall { case (_, _, c, _, _) => c % 4 != 3 },
      "a duplicated higher code won a tie — tie-break broken")
  }

  test("native cos_argmax ≡ the array_min(transform(...)) assignment form") {
    // the IVF flat-assignment argmax (LlmSimilarity.ivfAssigned): same
    // cosine operation order as cosine_sim, same round-6/-(r+0) IEEE-zero
    // normalization, same (ns, cell) struct-min tie-break. Duplicated
    // centroids force exact ns-ties so the cell tie-break is exercised;
    // near-orthogonal vectors exercise the ±0.000000 rounding boundary.
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    val rnd = new scala.util.Random(20260815L)
    val vecs = (0 until 300).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f).toSeq)
    }
    val cents = (0 until 24).map { c =>
      val base = if (c % 5 == 4) c - 1 else c // every 5th duplicates its
      val r2 = new scala.util.Random(base.toLong) // predecessor → ns-ties
      (c.toLong, Array.fill(16)(math.rint(r2.nextDouble() * 200 - 100) / 100).toSeq)
    }
    val cl = cents.toDF("cell", "centroid")
      .agg(collect_list(struct(col("cell"), col("centroid"))).as("cl"))
    val rows = vecs.toDF("vec_id", "embedding").crossJoin(broadcast(cl))
      .select(col("vec_id"),
        expr("cos_argmax(embedding, cl)").as("nat"),
        expr("array_min(transform(cl, c -> named_struct(" +
          "'ns', -(round(cosine_sim(embedding, c.centroid), 6) + 0D), " +
          "'cell', c.cell))).cell").as("hof"))
      .as[(Long, Long, Long)].collect()
    assert(rows.length == 300)
    rows.foreach { case (id, n, h) =>
      assert(n == h, s"diverged at vec $id: native $n vs HOF $h")
    }
    // the tie-break is real: a mod-5-4 cell duplicates its predecessor's
    // centroid, so it can never win (the lower cell takes every exact tie)
    assert(rows.forall { case (_, n, _) => n % 5 != 4 },
      "a duplicated higher cell won a tie — tie-break broken")
  }

  test("CosArgmax.nearest ≡ generated cos_argmax, ties and zero norms included") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types._
    import graft.functions.CosArgmax
    val rnd = new scala.util.Random(20261019L)
    val dim = 12
    // every 4th centroid repeats its predecessor (exact ties) and one
    // candidate slot is null; the second list adds an all-zero centroid,
    // whose null cosine sorts first
    val cents: Seq[Array[Double]] = (0 until 20).map { c =>
      val r2 = new scala.util.Random(if (c % 4 == 3) c - 1 else c)
      Array.fill(dim)(math.rint(r2.nextDouble() * 200 - 100) / 100)
    }
    def listOf(cs: Seq[Array[Double]]) = new GenericArrayData(cs.zipWithIndex.map[Any] {
      case (_, 7) => null
      case (v, c) => new GenericInternalRow(Array[Any](c.toLong, new GenericArrayData(v)))
    })
    val cands = listOf(cents)
    val withZero = listOf(cents.take(12) ++ Seq(Array.fill(dim)(0d)) ++ cents.drop(12))
    val candType = ArrayType(StructType(Seq(StructField("cell", LongType),
      StructField("centroid", ArrayType(DoubleType, false)))), true)
    for (elem <- Seq(FloatType, DoubleType)) {
      val gen = GenerateUnsafeProjection.generate(Seq(CosArgmax(
        BoundReference(0, ArrayType(elem, false), true),
        BoundReference(1, candType, true))))
      (0 until 400).foreach { i =>
        val xs = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
        if (i % 50 == 0) java.util.Arrays.fill(xs, 0f) // zero-norm vector
        val vec: ArrayData =
          if (elem == FloatType) new GenericArrayData(xs.map[Any](identity))
          else new GenericArrayData(xs.map[Any](_.toDouble))
        for (cl <- Seq(cands, withZero)) {
          val out = gen(new GenericInternalRow(Array[Any](vec, cl)))
          val want = if (out.isNullAt(0)) null else java.lang.Long.valueOf(out.getLong(0))
          assert(CosArgmax.nearest(vec, elem == FloatType, cl) == want,
            s"$elem vector $i: shared rule vs generated code")
        }
      }
    }
    // the zero vector's cosines are all null: the lowest non-null id wins
    val zero = new GenericArrayData(Array.fill[Any](dim)(0f))
    assert(CosArgmax.nearest(zero, true, cands) == 0L)
    assert(CosArgmax.nearest(zero, true, new GenericArrayData(Array.empty[Any])) == null)
    // ties go to the lower id: a repeated centroid never wins
    val picks = (0 until 200).map { _ =>
      val v = new GenericArrayData(Array.fill[Any](dim)(rnd.nextFloat() * 2f - 1f))
      CosArgmax.nearest(v, true, cands).longValue
    }
    assert(picks.forall(_ % 4 != 3), "a repeated higher id won a tie")
    assert(picks.forall(_ != 7L), "a null candidate won")
  }

  test("the one-job Lloyd's step reproduces the DataFrame training loop") {
    // the form it replaced: CentroidAgg per cell, round(x, 6), vectors
    // assigned by cos_argmax against the collect_list broadcast row
    import graft.queries.LlmSimilarity
    import graft.udaf.CentroidAgg
    graft.functions.CosineSim.register(spark)
    def centsOf(assign: org.apache.spark.sql.DataFrame) =
      assign.groupBy(col("cell"))
        .agg(CentroidAgg(col("embedding")).as("c"))
        .select(col("cell"), expr("transform(c, x -> round(x, 6))").as("centroid"))
    def assigned(train: org.apache.spark.sql.DataFrame,
        cents: org.apache.spark.sql.DataFrame) =
      train.crossJoin(broadcast(
          cents.agg(collect_list(struct(col("cell"), col("centroid"))).as("cl"))))
        .withColumn("cell", expr("cos_argmax(embedding, cl)"))
    def table(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    for (sf <- Seq(sfMid, "/root/testdata/sf0.1")) {
      Memo.clear()
      val train = LlmSimilarity.ivfTrainSet(spark, sf)
      val k = LlmSimilarity.kCells(spark, sf)
      var old = centsOf(train.withColumn("cell", expr(s"vec_id % $k"))).localCheckpoint()
      var now = LlmSimilarity.lloydStep(train, None, k).localCheckpoint()
      for (step <- 0 to LlmSimilarity.ivfIters) {
        if (step > 0) {
          old = centsOf(assigned(train, old)).localCheckpoint()
          now = LlmSimilarity.lloydStep(train, Some(now), k).localCheckpoint()
        }
        val want = table(old)
        val got = table(now)
        assert(got.map(_._1) == want.map(_._1), s"$sf step $step: cells differ")
        got.zip(want).foreach { case ((c, g), (_, w)) =>
          assert(g.length == w.length && g.zip(w).forall { case (a, b) =>
            java.lang.Double.compare(a, b) == 0 }, s"$sf step $step: cell $c differs")
        }
      }
      assert(table(LlmSimilarity.ivfTrained(spark, sf)) == table(now))
    }
    Memo.clear()
  }

  test("scalar UDF equals the builtin but breaks out of codegen (why builtins win)") {
    import spark.implicits._
    val norm = udf((s: String) => s.trim.toLowerCase)
    // a real scan — a literal DF would be constant-folded into a
    // LocalTableScan with the UDF evaluated at plan time
    val df = Tables.documents(spark, sfSmall).select(col("source").as("s"))
    val viaUdf = df.select(norm(col("s")).as("n"))
    val viaBuiltin = df.select(lower(trim(col("s"))).as("n"))
    assert(viaUdf.as[String].collect().toSeq ==
      viaBuiltin.as[String].collect().toSeq)
    // the UDF shows up as an opaque call in the plan; the builtin doesn't —
    // this is the §2.10 rationale for preferring builtins on hot paths
    assert(viaUdf.queryExecution.executedPlan.toString().contains("UDF"))
    assert(!viaBuiltin.queryExecution.executedPlan.toString().contains("UDF"))
  }

  test("native hyperplane_sig is bit-identical to the HOF fold it replaced") {
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    val vecs = Gen.listOfN(60, Gen.listOfN(64, Gen.choose(-1.0, 1.0)))
      .sample.get.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    // the interpreted HOF mirror of the native formula (LCG bit-15 sign,
    // MSB-first fold, sequential double accumulation)
    val hof =
      "transform(sequence(0, 1), b -> aggregate(sequence(0, 7), 0L, " +
        "(acc, r) -> acc * 2 + IF(aggregate(sequence(0, 63), 0D, " +
        "(s2, k) -> s2 + v[k] * IF((((1103515245L * CAST((b * 8 + r) * 64 + k AS BIGINT) " +
        "+ 12345L) % 2147483648L) DIV 32768L) % 2L = 1L, 1D, -1D)) >= 0D, 1L, 0L)))"
    val rows = vecs.toDF("id", "v")
      .select(expr("hyperplane_sig(v, 2, 8)").as("native"), expr(hof).as("hofv"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, h) => assert(n == h, s"native=$n hof=$h") }
    // float input must match the cast-to-double-first double form
    val fRows = vecs.map { case (i, v) => (i, v.map(_.toFloat)) }
      .toDF("id", "vf")
      .select(expr("hyperplane_sig(vf, 2, 8)").as("f"),
        expr("hyperplane_sig(transform(vf, x -> CAST(x AS DOUBLE)), 2, 8)").as("d"))
      .as[(Seq[Long], Seq[Long])].collect()
    fRows.foreach { case (f, d) => assert(f == d) }
  }

  test("hyperplane_sig bucket count grows as the bits parameter widens") {
    graft.functions.CosineSim.register(spark)
    val e = Tables.embeddings(spark, sfMid)
    def buckets(bits: Int): Long = e
      .select(expr(s"hyperplane_sig(embedding, 1, $bits)[0]").as("b"))
      .agg(countDistinct(col("b"))).head().getLong(0)
    val b4 = buckets(4); val b8 = buckets(8); val b16 = buckets(16)
    // the scale knob works: widening bits multiplies the bucket space, so
    // per-bucket candidate pair counts can be held flat as N grows
    assert(b4 < b8 && b8 < b16, s"buckets: 4b=$b4 8b=$b8 16b=$b16")
    assert(b4 <= 16, "4-bit band cannot exceed 2^4 buckets")
  }

  test("cosine_sim: zero-norm / empty vectors yield null, not NaN (both paths)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import spark.implicits._
    graft.functions.CosineSim.register(spark)
    // codegen path: real projection over a scanned (non-foldable) column
    val rows = Seq(
      (1L, Seq(0f, 0f, 0f), Seq(1f, 2f, 3f)),
      (2L, Seq.empty[Float], Seq.empty[Float]),
      (3L, Seq(1f, 0f), Seq(0f, 1f)))
      .toDF("id", "v", "w")
      .select(col("id"), expr("cosine_sim(v, w)").as("c"))
      .orderBy(col("id")).collect()
    assert(rows(0).isNullAt(1), "zero-norm left vector must be null")
    assert(rows(1).isNullAt(1), "empty vectors must be null")
    assert(rows(2).getDouble(1) == 0.0, "orthogonal vectors are 0, not null")
    // interpreted path: direct eval of the expression tree
    def lit(v: Seq[Float]) = Literal.create(v, ArrayType(FloatType))
    val interpZero = graft.functions.CosineSim(lit(Seq(0f, 0f)), lit(Seq(1f, 2f))).eval(null)
    val interpOk = graft.functions.CosineSim(lit(Seq(1f, 0f)), lit(Seq(1f, 0f))).eval(null)
    assert(interpZero == null)
    assert(interpOk.asInstanceOf[Double] == 1.0)
  }

  test("minhash signature equality on identical shingle sets") {
    import spark.implicits._
    val sets = Seq((1L, Seq(101L, 202L, 303L)), (2L, Seq(101L, 202L, 303L)),
      (3L, Seq(999L, 888L)))
    val mh = sets.toDF("id", "shl").select(col("id"), expr(
      "transform(sequence(0, 15), p -> array_min(transform(shl, " +
        "x -> ((2 * p + 1) * x + (p * p * 7919 + 1)) % 1000000007)))").as("mh"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(mh(1L) == mh(2L), "equal sets must have equal signatures")
    assert(mh(1L) != mh(3L), "disjoint sets should differ")
    assert(mh(1L).length == 16)
  }

  // Pins the ONE deliberate divergence between the native minhash_sigs and
  // its HOF twin (MinHashSigs.scala null-semantics note): on an EMPTY
  // shingle set the native form returns NULL where the HOF form returns an
  // array of null elements (array_min(empty) per permutation). Both mean
  // "no signature"; equivalence holds behind the size(shl) >= 2 filter
  // every call site applies. This test makes the contract a failing
  // assertion — not just a comment — for any future unfiltered caller.
  test("minhash_sigs empty-set contract: native NULL vs HOF array-of-nulls") {
    graft.functions.CosineSim.register(spark)
    val row = spark.sql(
      "SELECT minhash_sigs(CAST(array() AS ARRAY<BIGINT>), 16) AS native, " +
        "transform(sequence(0, 15), p -> array_min(transform(" +
        "CAST(array() AS ARRAY<BIGINT>), " +
        "x -> ((2 * p + 1) * x + (p * p * 7919 + 1)) % 1000000007))) AS hof")
      .first()
    assert(row.isNullAt(0), "native minhash_sigs(empty) must be NULL")
    assert(!row.isNullAt(1) && row.getSeq[Any](1).forall(_ == null),
      "HOF twin of empty set is a non-null array of 16 null elements")
    // and on any non-empty set the two are identical (the filtered regime)
    val same = spark.sql(
      "SELECT minhash_sigs(array(7L, 99L), 16) = " +
        "transform(sequence(0, 15), p -> array_min(transform(array(7L, 99L), " +
        "x -> ((2 * p + 1) * x + (p * p * 7919 + 1)) % 1000000007))) AS eq")
      .first().getBoolean(0)
    assert(same)
  }

  // The simhash block-permutation laws (NearDup.simhashCandidates): on the
  // fixture corpus, (a) candidates NEST as the combination size grows —
  // a (C+1)-block key match implies every C-block sub-key matches, so
  // candidates(8, 5) ⊆ candidates(8, 2) ⊆ candidates(8, 1); (b) recall on
  // the true hamming ≤ 3 pairs is 1.0 at every geometry with
  // blocks − combo ≥ 3 (pigeonhole), which is exactly why
  // dedup_simhash_perm's (8, 5) output equals dedup_simhash's (4, 1).
  test("simhash block-permutation: candidates nest in combo, hamming<=3 recall = 1") {
    def pairs(blocks: Int, combo: Int): Set[(Long, Long)] =
      graft.queries.NearDup.simhashCandidates(spark, sfMid, blocks, combo)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val c1 = pairs(8, 1)
    val c2 = pairs(8, 2)
    val c5 = pairs(8, 5)
    assert(c5.subsetOf(c2) && c2.subsetOf(c1),
      s"candidate nesting violated: |c5|=${c5.size} |c2|=${c2.size} |c1|=${c1.size}")
    assert(c5.size < c1.size,
      "wider keys must prune some false candidates on the fixture")
    val true3 = SparkEntry.queries("dedup_simhash")(spark, sfMid)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(true3.nonEmpty && true3.subsetOf(c5),
      "every true hamming<=3 pair must be caught while blocks - combo >= 3")
    spark.catalog.clearCache(); Memo.clear()
  }

  // The pigeonhole law multimodal_phash_pairs' exact-recall claim rests
  // on: flipping ≤ 3 of 60 bits cannot touch all four 15-bit blocks, so
  // the blocked candidate join recovers EVERY pair within the verify
  // threshold. Checked exhaustively in Scala over random signatures and
  // random ≤3-bit flips (the law is about the geometry, not the engine).
  test("phash blocking pigeonhole: any ≤3-bit flip leaves a 15-bit block intact") {
    val sigs = Gen.listOfN(200, Gen.choose(0L, (1L << 60) - 1)).sample.get
    val flips = Gen.listOfN(200,
      Gen.listOfN(3, Gen.choose(0, 59)).map(_.distinct)).sample.get
    def blocks(s: Long): Seq[Long] =
      (0 until 4).map(i => (s >> (i * 15)) & 32767L)
    sigs.zip(flips).foreach { case (s, bs) =>
      val t = bs.foldLeft(s)((acc, b) => acc ^ (1L << b))
      assert(blocks(s).zip(blocks(t)).exists { case (a, b) => a == b },
        s"sig $s with flips $bs shares no block with $t")
      assert(java.lang.Long.bitCount(s ^ t) == bs.size)
    }
    // and a 4-bit flip CAN evade all blocks (the bound is tight): one
    // flip per block defeats the blocking by construction
    val s = sigs.head
    val evader = s ^ (1L << 0) ^ (1L << 15) ^ (1L << 30) ^ (1L << 45)
    assert(blocks(s).zip(blocks(evader)).forall { case (a, b) => a != b })
  }

  // Containment dominates jaccard (min(|A|,|B|) ≤ |A∪B|), so on the SAME
  // candidate set every jaccard-flagged pair at τ is containment-flagged
  // at τ: dedup_containment(0.7) ⊇ {dedup_minhash pairs with j ≥ 0.7} —
  // the algebraic reason the asymmetric op can only widen the net.
  test("containment ≥ jaccard on every shared candidate pair") {
    val cont = SparkEntry.queries("dedup_containment")(spark, sfMid)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val jac = SparkEntry.queries("dedup_minhash")(spark, sfMid)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac.nonEmpty)
    for ((pair, j) <- jac if j >= 0.7) {
      val c = cont.getOrElse(pair, fail(s"$pair jaccard=$j missing from containment"))
      assert(c >= j - 1e-6, s"$pair containment $c < jaccard $j")
    }
    spark.catalog.clearCache(); Memo.clear()
  }

  // The hamming-ball law behind similarity_ann_lsh's multi-probe fan-out:
  // the directly-generated O(bits²) mask set must equal the filtered
  // enumeration it replaced (filter(sequence(0, 2^bits − 1), bit_count ≤ h))
  // — equality of the SET is exactly what makes the candidate join, and
  // hence the hash-checked oracle, invariant under the rewrite. Checked at
  // bits = 16 too, where the enumeration form (safe only in a test)
  // materializes 65 536 elements for the 137 masks kept.
  test("hammingBallSql ≡ filtered 2^bits enumeration for bits in {4, 8, 16}") {
    import spark.implicits._
    for (bits <- Seq(4, 8, 16); h <- Seq(0, 1, 2)) {
      val Row2 = spark.range(1).select(
        expr(s"sort_array(${graft.queries.LlmSimilarity.hammingBallSql(bits, h)})")
          .as("direct"),
        expr(s"sort_array(transform(filter(sequence(0, ${(1 << bits) - 1}), " +
          s"m -> bit_count(m) <= $h), m -> CAST(m AS BIGINT)))").as("enum"))
        .as[(Seq[Long], Seq[Long])].first()
      assert(Row2._1 == Row2._2, s"mask-set mismatch at bits=$bits h=$h")
      val expected = (0 to h).map(k =>
        (1 to k).foldLeft(BigInt(1)) { (a, i) => a * (bits - i + 1) / i }).sum
      assert(Row2._1.length == expected.toInt,
        s"mask count at bits=$bits h=$h: got ${Row2._1.length}, want $expected")
      assert(Row2._1.distinct.length == Row2._1.length,
        s"duplicate masks at bits=$bits h=$h")
    }
  }

  // The Morton-interleave laws behind curation_zorder_layout: the SQL
  // expression must agree with an independent Scala reference (bijective
  // up to 16-bit inputs), and must be monotone along each axis with the
  // other fixed — the property that makes z-range shards bound BOTH
  // dimensions' extents.
  test("zorder interleave: matches Scala reference, per-axis monotone") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val pts = Seq.tabulate(200)(_ =>
      (rng.nextInt(1 << 16).toLong, rng.nextInt(1 << 16).toLong))
    def ref(p: Long, sk: Long): Long = (0 until 16).map(i =>
      (((p >> i) & 1L) << (2 * i + 1)) | (((sk >> i) & 1L) << (2 * i))).sum
    val got = pts.toDF("p", "sk")
      .select(col("p"), col("sk"), expr(graft.queries.Curation.zorderSql).as("z"))
      .as[(Long, Long, Long)].collect()
    for ((p, sk, z) <- got)
      assert(z == ref(p, sk), s"z($p, $sk) = $z, reference ${ref(p, sk)}")
    val axis = pts.map(_._1).distinct.sorted
    for (fixed <- Seq(0L, 12345L, 65535L); Seq(a, b) <- axis.sliding(2)) {
      assert(ref(a, fixed) < ref(b, fixed), s"monotone in p broke at ($a,$b,$fixed)")
      assert(ref(fixed, a) < ref(fixed, b), s"monotone in sk broke at ($a,$b,$fixed)")
    }
    // bijectivity on a dense grid: 32×32 distinct inputs → distinct z
    val grid = for (p <- 0 until 32; sk <- 0 until 32)
      yield ref(p.toLong, sk.toLong)
    assert(grid.distinct.size == grid.size, "interleave not injective")
  }

  // Scala mirror of the join_bloom_prefilter word/bit arithmetic
  // (AdvancedJoins.bloomOf / bloomHit).
  private def bloomWords(keys: Seq[Long]): Map[Long, Long] =
    keys.flatMap(k => graft.queries.AdvancedJoins.bloomSeeds.map { case (a, c) =>
      ((k * a + c) % 2147483648L) % graft.queries.AdvancedJoins.bloomBits
    }).groupBy(_ / 64)
      .view.mapValues(_.map(p => 1L << (p % 64).toInt).reduce(_ | _)).toMap

  private def bloomHitScala(bm: Map[Long, Long], k: Long): Boolean =
    graft.queries.AdvancedJoins.bloomSeeds.forall { case (a, c) =>
      val pos = ((k * a + c) % 2147483648L) % graft.queries.AdvancedJoins.bloomBits
      (bm.getOrElse(pos / 64, 0L) >>> (pos % 64).toInt & 1L) == 1L
    }

  test("bloom filter law: members always hit; at fixture load most non-members miss") {
    // no-false-negatives is the bloom's defining guarantee — it must hold
    // for EVERY member on EVERY random build set, not just the fixture's
    val gen = Gen.listOfN(300, Gen.chooseNum(0L, 4000000L))
    (1 to 20).foreach { seed =>
      val keys = gen.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed.toLong))
      val bm = bloomWords(keys)
      keys.foreach(k => assert(bloomHitScala(bm, k), s"member $k missed (seed $seed)"))
      // false-positive rate stays small at this load (n=300, m=65536, k=3)
      val probes = (4000001L to 4002000L)
      val fp = probes.count(bloomHitScala(bm, _))
      assert(fp < probes.size / 10, s"FPR ${fp}/${probes.size} too high (seed $seed)")
    }
  }

  test("round-7 op laws: KM monotone, bounded indices, SRM/seasonal conservation") {
    val d = sfSmall
    def q(name: String) = SparkEntry.queries(name)(spark, d).collect()

    // Kaplan–Meier: S non-increasing in t, S ∈ [0,1], churns ≤ risk set,
    // and the risk set itself shrinks as t advances
    val km = q("events_survival_km")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(km.nonEmpty)
    km.foreach { case (_, nRisk, nChurn, s) =>
      assert(s >= 0.0 && s <= 1.0 && nChurn >= 1 && nChurn <= nRisk) }
    km.sliding(2).foreach {
      case Array((t1, r1, _, s1), (t2, r2, _, s2)) =>
        assert(t2 > t1 && s2 <= s1 + 1e-9 && r2 <= r1)
      case _ => ()
    }

    // Gini ∈ [0, 1); covisit jaccard ∈ (0, 1] with inter ≤ min audience;
    // autocorr ∈ [−1, 1] (6-dp rounding slack)
    q("events_gini").foreach(r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0))
    q("graph_covisit_jaccard").foreach { r =>
      val (inter, f1, f2, j) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(j > 0.0 && j <= 1.0 && inter <= math.min(f1, f2))
    }
    q("events_autocorr").foreach(r =>
      assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-6))

    // SRM conservation: n_a + n_b equals the type's distinct-user count
    val du = Tables.events(spark, d)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    q("events_ab_srm").foreach(r =>
      assert(r.getLong(1) + r.getLong(2) == du(r.getString(0))))

    // seasonal profile conservation: per-type cell counts sum to the
    // type's event count; every index is positive
    val tot = Tables.events(spark, d).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cells = q("events_seasonal_profile")
    cells.foreach(r => assert(r.getDouble(4) > 0.0))
    cells.groupBy(_.getString(0)).foreach { case (t, rs) =>
      assert(rs.map(_.getLong(3)).sum == tot(t)) }

    // Pareto: the 80% point exists, covers ≥ 80% of revenue, and the
    // top-spender share is a valid fraction
    val pa = q("orders_pareto_8020").head
    assert(pa.getLong(1) >= 1 && pa.getLong(1) <= pa.getLong(0))
    assert(pa.getDouble(3) >= 0.8 && pa.getDouble(2) > 0.0 &&
      pa.getDouble(2) <= 1.0)

    // recall@3 ∈ [0, 1] with hits ≤ 3; power planner emits positive n
    q("similarity_recall_eval").foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 3)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0) }
    q("events_power_analysis").foreach(r => assert(r.getLong(3) >= 1))

    // SLO monitor: the page flag is EXACTLY the joint integer breach —
    // re-derive it from the emitted counts and trailing rate; every
    // velocity flag carries at least the threshold population
    q("events_error_rate_slo").foreach { r =>
      val (tot, err, r6, page) =
        (r.getLong(1), r.getLong(2), r.getDouble(4), r.getLong(5))
      assert(err <= tot && r.getDouble(3) >= 0.0 && r6 >= 0.0)
      val shortBreach = err * 4 > tot
      if (page == 1) assert(shortBreach && r6 > 0.25 - 1e-6)
      if (!shortBreach) assert(page == 0)
    }
    q("events_velocity_flags").foreach(r => assert(r.getLong(3) >= 3))

    // shard plan conservation: shard bytes/blob counts sum to the corpus
    // totals, and every shard except possibly the last starts full
    // (a blob spans the boundary, so fill can exceed 1.0)
    val shards = q("multimodal_shard_plan")
    val (totBytes, totDocs) = {
      val t = Tables.documents(spark, d)
        .agg(sum(length(encode(col("text"), "UTF-8")).cast("long")),
          count(lit(1))).collect().head
      (t.getLong(0), t.getLong(1))
    }
    assert(shards.map(_.getLong(2)).sum == totBytes)
    assert(shards.map(_.getLong(1)).sum == totDocs)
    // a non-final shard's blobs must reach its upper boundary, but the
    // previous shard's last blob may overflow into it — so fill is only
    // bounded below by 1 − (max blob / shard size); fixture docs are
    // ≤ ~1 KiB against 64 KiB shards, so 0.9 is a safe floor
    shards.dropRight(1).foreach(r => assert(r.getDouble(3) >= 0.9))

    spark.catalog.clearCache()
    graft.Memo.clear()
  }

  test("PPJoin positional bound: complete for every jaccard >= 0.5 pair") {
    // the round-9 prefix-filter join condition (NearDup.scala
    // dedup_prefix_filter) admits a candidate only when its FIRST common
    // prefix element at ranks (rka, rkb) satisfies
    //   min(sza - rka, szb - rkb) + 1 >= (sza + szb + 2) DIV 3,
    // the integer form of overlap >= ceil(tau/(1+tau)·(sza+szb)) at
    // tau = 0.5. COMPLETENESS claim: every pair with true jaccard >= 0.5
    // passes — for its first common element in the global rarest-first
    // order. Fuzz it: random universes, random global orders, random
    // sets; for every qualifying pair, locate the first common element
    // under the order, compute both ranks, assert the bound holds, and
    // that the element sits inside BOTH prefix windows
    // (rk <= sz - ceil(tau·sz) + 1, the generation-side cut).
    val rnd = new scala.util.Random(9)
    var checkedPairs = 0
    for (_ <- 1 to 200) {
      val universe = rnd.shuffle((1 to 60).toList) // global "df" order
      val rank = universe.zipWithIndex.toMap // 0-based global rank
      def randSet() = rnd.shuffle(universe).take(4 + rnd.nextInt(18)).toSet
      // independent random subsets almost never reach jaccard 0.5 —
      // PLANT near-dup partners by perturbing each base set (drop up to
      // a third, add a few fresh elements), the fixture's dup shape
      val bases = Vector.fill(8)(randSet())
      val pairs = bases.map { a =>
        val dropped = a -- rnd.shuffle(a.toSeq).take(rnd.nextInt(a.size / 3 + 1))
        val added = rnd.shuffle((universe.toSet -- a).toSeq)
          .take(rnd.nextInt(3)).toSet
        (a, dropped ++ added)
      } ++ bases.combinations(2).map { case Vector(x, y) => (x, y) }
      for ((a, b) <- pairs if b.nonEmpty) {
        val inter = (a & b).size
        val jac = inter.toDouble / (a.size + b.size - inter)
        if (jac >= 0.5) {
          checkedPairs += 1
          val sza = a.size.toLong; val szb = b.size.toLong
          // first common element under the global order
          val fc = (a & b).minBy(rank)
          // 1-based rank of fc inside each set, ordered by global rank
          val rka = a.toSeq.sortBy(rank).indexOf(fc) + 1L
          val rkb = b.toSeq.sortBy(rank).indexOf(fc) + 1L
          assert(math.min(sza - rka, szb - rkb) + 1 >= (sza + szb + 2) / 3,
            s"positional bound rejected a jaccard=$jac pair " +
              s"(sza=$sza rka=$rka szb=$szb rkb=$rkb)")
          // and fc is inside both generated prefixes: sz - ceil(sz/2) + 1
          assert(rka <= sza - (sza + 1) / 2 + 1 && rkb <= szb - (szb + 1) / 2 + 1,
            s"first common element escaped a prefix window " +
              s"(sza=$sza rka=$rka szb=$szb rkb=$rkb)")
        }
      }
    }
    assert(checkedPairs >= 50, s"fuzz generated only $checkedPairs qualifying pairs")
  }

  // --- Sizing ≡ its DuckDB twin CTEs (VERDICT r10 #3) -------------------
  // Scala mirrors of the kpar/bpar/abpar integer arithmetic EXACTLY as the
  // twin SQL states it: DuckDB `//` is floor division (non-negative
  // operands here, same as Long `/`), and `len(bin(m))` is the bit length
  // of m without leading zeros — 64 - numberOfLeadingZeros(m) for m ≥ 1.
  // The law guards the `len(bin(...))` ↔ `numberOfLeadingZeros`
  // equivalence Sizing.ceilLog2 depends on, especially at power-of-two
  // edges where a float-log implementation flips ±1.
  private def duckBitLen(m: Long): Int = {
    require(m >= 1)
    64 - java.lang.Long.numberOfLeadingZeros(m)
  }
  private def duckKpar(n: Long): Long = {
    // the twin's float-then-adjust exact ceil-sqrt (same IEEE ops)
    val s0 = math.floor(math.sqrt(8.0 * n)).toLong
    val s1 = s0 - (if (s0 * s0 > 8 * n) 1L else 0L)
    val cs = s1 + (if (s1 * s1 < 8 * n) 1L else 0L)
    math.max(Sizing.ivfCellsMin.toLong, math.min(2147483647L,
      math.min((n + Sizing.ivfTargetCell - 1) / Sizing.ivfTargetCell, cs)))
  }
  private def duckBpar(n: Long): Long =
    math.max(Sizing.embBitsMin.toLong, math.min(Sizing.embBitsMax.toLong,
      duckBitLen(math.max((n + 1) / 2 - 1, 1)).toLong))
  private def duckAbpar(n: Long): Long =
    math.max(Sizing.anchorsMin, math.min(Sizing.anchorsMax, n / Sizing.anchorsDiv))
  private def duckCpar(k: Long): Long =
    math.max(Sizing.coarseBitsMin.toLong, math.min(Sizing.coarseBitsMax.toLong,
      duckBitLen(math.max(2 * k - 1, 1)).toLong))
  private def duckPspar(n: Long): Long = {
    // the pspar CTE's arithmetic: P = ceil(N/K) off the twin's own kpar,
    // then CASE p <= 64 → 0 ELSE least(16, len(bin(ceil(p/64) - 1)))
    val p = (math.max(n, 1L) + duckKpar(n) - 1) / duckKpar(n)
    if (p <= Sizing.ivfTargetCell) 0L
    else math.min(Sizing.embBitsMax.toLong,
      duckBitLen((p + Sizing.ivfTargetCell - 1) / Sizing.ivfTargetCell - 1).toLong)
  }

  private def duckTspar(n: Long): Long =
    // the tspar CTE's arithmetic off the twin's own kpar
    math.min(1000000L, math.max(Sizing.trainFloor,
      Sizing.trainPerCell * duckKpar(n)) * 1000000L / n)

  test("Sizing rules ≡ the kpar/bpar/abpar twin arithmetic over N = 1..2^40") {
    // exhaustive small range (every clamp boundary + the bits=4..5 edge)
    val small = (1L to 100000L)
    // every power-of-two neighborhood up to 2^40 — the ceilLog2 edge set
    val edges = (1 to 40).flatMap { k =>
      val p = 1L << k
      Seq(p - 2, p - 1, p, p + 1, p + 2)
    }.filter(_ >= 1)
    // scalacheck fuzz across the full range
    val fuzz = Gen.listOfN(2000, Gen.chooseNum(1L, 1L << 40)).sample.get
    for (n <- small.iterator ++ edges.iterator ++ fuzz.iterator) {
      assert(Sizing.ivfCells(n).toLong == duckKpar(n),
        s"ivfCells($n) != kpar twin")
      assert(Sizing.embBits(n).toLong == duckBpar(n),
        s"embBits($n) != bpar twin")
      assert(Sizing.anchors(n).toLong == duckAbpar(n),
        s"anchors($n) != abpar twin")
      // cpar derives from K (the kpar output), so sweep it on the same N
      assert(Sizing.coarseBits(Sizing.ivfCells(n).toLong).toLong ==
        duckCpar(Sizing.ivfCells(n).toLong),
        s"coarseBits(ivfCells($n)) != cpar twin")
      // r14: the pair sub-bucket width (SemDeDup kernel cap)
      assert(Sizing.pairSubBits(n).toLong == duckPspar(n),
        s"pairSubBits($n) != pspar twin")
      // r14: the coarse-quantizer training sample rate
      assert(Sizing.ivfTrainRate6(n) == duckTspar(n),
        s"ivfTrainRate6($n) != tspar twin")
    }
    // the documented fixture and scaled regimes, pinned literally
    assert(Sizing.ivfCells(499) == 10 && Sizing.embBits(499) == 8 &&
      Sizing.anchors(500) == 5) // sf0.001 / sf0.01
    assert(Sizing.ivfCells(1999) == 32 && Sizing.embBits(1999) == 10 &&
      Sizing.anchors(2000) == 20) // sf0.1
    assert(Sizing.ivfCells(19999) == 313 && Sizing.embBits(19999) == 14 &&
      Sizing.anchors(20000) == 64) // sf1
    // dqpar (the text-retrieval query batch) is the SAME anchors rule over
    // the documents count — pin its fixture regimes literally too
    assert(Sizing.anchors(500) == 5 && Sizing.anchors(5000) == 50 &&
      Sizing.anchors(50000) == 64) // documents at sf0.01 / sf0.1 / sf1
    // the flat-assignment balance cap: the two K laws cross EXACTLY at
    // N = 2^15 (both 512); below it ceil(N/64) wins, above it sqrt(8N)
    assert(Sizing.ivfCells(32768) == 512)
    assert(Sizing.ivfCells(30000) == 469) // still the bounded-cell law
    assert(Sizing.ivfCells(40000) == 566) // the balanced sqrt law
    assert(Sizing.ivfCells(199999) == 1265) // sf10
    // coarse-routing widths at the documented regimes: buckets/band ≈ 2K
    assert(Sizing.coarseBits(10) == 5) // fixtures (K=10 → 32 buckets)
    assert(Sizing.coarseBits(32) == 6) // sf0.1
    assert(Sizing.coarseBits(313) == 10) // sf1
    assert(Sizing.coarseBits(1265) == 12) // sf10
    assert(Sizing.coarseBits(1) == 4 && Sizing.coarseBits(1L << 60) == 16)
    // r14 pair sub-bucket law: 0 through EVERY committed fixture regime
    // (the cap changes no verified answer), engaging exactly with the
    // √N cell law: sf10's P = 159 → 2 bits, sf100z's P = 500 → 3 bits
    assert(Sizing.pairSubBits(499) == 0 && Sizing.pairSubBits(4999) == 0 &&
      Sizing.pairSubBits(19999) == 0 && Sizing.pairSubBits(32768) == 0)
    assert(Sizing.pairSubBits(199999) == 2)
    assert(Sizing.pairSubBits(1999999) == 3)
    // r14 training-sample law: full corpus (1e6) below sf0.1 — those
    // fixtures' centroids stay byte-stable — the SAMPLED regime at sf0.1
    // (~51%, under full oracle parity: the adaptive-sizing discipline),
    // and both Zipf decades deep in it
    assert(Sizing.ivfTrainRate6(499) == 1000000L) // sf0.001 / sf0.01
    assert(Sizing.ivfTrainRate6(1999) == 512256L) // sf0.1: max(1024,32·32)
    assert(Sizing.ivfTrainRate6(19999) == 500825L) // sf1: 32·313·1e6/19999
    assert(Sizing.ivfTrainRate6(199999) == 202401L) // sf10z
    assert(Sizing.ivfTrainRate6(1999999) == 64000L) // sf100z
  }

  test("calibration binning laws on generated score sets") {
    // One batched frame of scalacheck-generated (p, y) rows, graded
    // through the REAL Curation.calibrationOf. Laws per populated bin:
    //   conservation: Σn = total rows, Σn_pos = total positives;
    //   bin bounds: avg_p ∈ [bin/10, (bin+1)/10] (bin 9 closes at 1.0 —
    //     the clamp bin — and floor-rounding can graze the lower edge);
    //   exactness: pos_rate = ⌊n_pos·1e6/n⌋/1e6, gap = |avg_p − pos_rate|.
    // pureApply with a FIXED seed: Gen.sample returns Option and may be
    // None (ADVICE r13 — a spurious fail independent of the code under
    // test), and a fixed seed keeps the graded frame deterministic
    val gen = Gen.listOfN(400, Gen.zip(Gen.choose(0, 1000000), Gen.oneOf(0.0, 1.0)))
    val cases = gen.pureApply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(20260816L))
      .map { case (p6, y) => (p6 / 1e6, y) }
    val df = spark.createDataFrame(cases).toDF("p", "y")
    val rows = graft.queries.Curation.calibrationOf(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._2).sum == cases.size)
    assert(rows.map(_._3).sum == cases.count(_._2 == 1.0))
    rows.foreach { case (bin, n, nPos, avgP, posRate, gap) =>
      assert(bin >= 0 && bin <= 9)
      assert(nPos >= 0 && nPos <= n)
      val lo = bin / 10.0 - 1e-6
      val hi = if (bin == 9) 1.0 + 1e-6 else (bin + 1) / 10.0 + 1e-6
      assert(avgP >= lo && avgP <= hi, s"bin $bin avg_p $avgP outside [$lo,$hi]")
      assert(posRate == math.floor(nPos * 1000000.0 / n) / 1000000.0)
      assert(math.abs(gap - math.abs(avgP - posRate)) < 1e-9)
    }
  }
}

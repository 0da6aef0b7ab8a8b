package graft

import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** The two native expressions must be value-identical to the built-in HOF
  * compositions they replaced (which remain the executable spec here).
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def hofQuantize(v: org.apache.spark.sql.Column) =
    transform(v, x => floor(x.cast("double") * Similarity.QScale).cast("long"))
  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, p) => acc + p)

  test("QuantizeFixed equals the transform+floor HOF on varied floats") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map { i =>
      i.toLong -> Seq.fill(16)(rnd.nextFloat() * 2 - 1f)
    }
    val df = rows.toDF("id", "v")
    val diff = df.select(
        Similarity.quantize(col("v")).as("fast"), hofQuantize(col("v")).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(diff === 0)
  }

  test("QuantizeFixed preserves element nulls and top-level nulls") {
    val df = Seq(
      (1L, Seq[java.lang.Float](1.5f, null, -0.25f)),
      (2L, null)).toDF("id", "v")
    val out = df.select(col("id"), Similarity.quantize(col("v")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[java.lang.Long](1)).toMap
    assert(out(1L) === Seq((1.5 * Similarity.QScale).toLong, null, (-0.25 * Similarity.QScale).toLong))
    assert(out(2L) === null)
  }

  test("DotProductQ equals the aggregate(zip_with) HOF, including edge cases") {
    val rnd = new scala.util.Random(13)
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextLong() % (1L << 25)),
        Seq.fill(16)(rnd.nextLong() % (1L << 25)))
    }
    val df = rows.toDF("id", "a", "b")
    val diff = df.select(
        Similarity.dotQ(col("a"), col("b")).as("fast"),
        hofDot(col("a"), col("b")).as("ref"))
      .filter(not(col("fast") <=> col("ref"))).count()
    assert(diff === 0)
  }

  test("GraftExtensions registers dot_q and quantize_q on the SQL surface") {
    val r = spark.sql(
      "SELECT dot_q(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d, " +
        "quantize_q(array(CAST(0.5 AS FLOAT))) AS q").head
    assert(r.getLong(0) === 32L)
    assert(r.getSeq[Long](1) === Seq((0.5 * graft.functions.GraftExtensions.DefaultScale).toLong))
    val r2 = spark.sql("SELECT quantize_q(array(CAST(1.0 AS FLOAT)), 256) AS q").head
    assert(r2.getSeq[Long](0) === Seq(256L))
    // mg_topk as a SQL aggregate: 'a' dominates a 6-row stream, k=4
    val r3 = spark.sql(
      "SELECT mg_topk(t, 4) AS s FROM VALUES ('a'),('a'),('a'),('b'),('a'),('c') AS v(t)")
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(r3.head.getString(0) === "a" && r3.head.getLong(1) >= 3L)
  }

  test("DotProductQ nulls out on length mismatch, element null, input null") {
    val df = Seq(
      (1L, Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L, 4L, 5L)),
      (2L, Seq[java.lang.Long](1L, null), Seq[java.lang.Long](3L, 4L)),
      (3L, null, Seq[java.lang.Long](3L))).toDF("id", "a", "b")
    val out = df.select(col("id"), Similarity.dotQ(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(out === Map(1L -> null, 2L -> null, 3L -> null))
  }

  /** The crossJoin→groupBy argmin shape the flat kernel replaced stays here
    * as its executable spec: exact integer distances, argmin, lowest-cid
    * tie-break.
    */
  private def crossJoinAssign(df: org.apache.spark.sql.DataFrame,
                              centroids: Seq[(Int, Seq[Long])]) = {
    val c = broadcast(centroids.toDF("cid", "cq")
      .withColumn("cn2", hofDot(col("cq"), col("cq"))))
    df.crossJoin(c)
      .select(col("id"), col("cid"),
        (hofDot(col("q"), col("q")) - lit(2L) * Similarity.dotQ(col("q"), col("cq"))
          + col("cn2")).as("dist"))
      .groupBy(col("id"))
      .agg(min(struct(col("dist"), col("cid"))).getField("cid").as("cluster"))
  }

  test("flat NearestSubCellQ equals the crossJoin argmin, including exact-tie rows") {
    val rnd = new scala.util.Random(17)
    val dim = 8
    val cents: Seq[(Int, Seq[Long])] =
      (0 until 7).map(c => c -> Seq.fill(dim)((rnd.nextLong() % 1000L) * 4L))
    // mix random vectors with EXACT copies of centroids 2 and 5, plus the
    // midpoint of centroids 0 and 1 (equidistant -> the tie must break to
    // cid 0 on both paths)
    val mid = (0 until dim).map(i => (cents(0)._2(i) + cents(1)._2(i)) / 2)
    val vecs: Seq[(Long, Seq[Long])] =
      (0 until 200).map(i => i.toLong -> Seq.fill(dim)(rnd.nextLong() % 4000L)) ++
        Seq(900L -> cents(2)._2, 901L -> cents(5)._2, 902L -> mid)
    val df = vecs.toDF("id", "q")
    val fast = df.select(col("id"),
        graft.functions.NearestSubCellQ.flat(col("q"), cents).as("cluster"))
    val ref = crossJoinAssign(df, cents)
    assert(fast.join(ref.withColumnRenamed("cluster", "ref"), Seq("id"))
      .filter(not(col("cluster") <=> col("ref"))).count() === 0)
    // the deliberate tie: midpoint must land on the LOWER cid
    assert(fast.filter(col("id") === 902L).head.getInt(1) === 0)
  }

  test("flat NearestSubCellQ nulls out on dim mismatch and null elements") {
    val cents: Seq[(Int, Seq[Long])] = Seq(0 -> Seq(1L, 2L), 1 -> Seq(3L, 4L))
    val df = Seq(
      (1L, Seq[java.lang.Long](1L, 2L, 3L)),
      (2L, Seq[java.lang.Long](1L, null)),
      (3L, null)).toDF("id", "q")
    val out = df.select(col("id"),
        graft.functions.NearestSubCellQ.flat(col("q"), cents).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getInt(1))).toMap
    assert(out === Map(1L -> null, 2L -> null, 3L -> null))
  }

  /** The per-coarse-cell crossJoin argmin stays as NearestSubCellQ's
    * executable spec: join each row with ONLY its coarse cell's sub
    * table, exact integer distances, lowest-sub-cid tie-break.
    */
  private def subCrossJoinAssign(df: org.apache.spark.sql.DataFrame,
                                 sub: Seq[(Int, Int, Seq[Long])]) = {
    val c = broadcast(sub.toDF("coarse", "cid", "cq")
      .withColumn("cn2", hofDot(col("cq"), col("cq"))))
    df.join(c, Seq("coarse"))
      .select(col("id"), col("cid"),
        (hofDot(col("q"), col("q")) - lit(2L) * Similarity.dotQ(col("q"), col("cq"))
          + col("cn2")).as("dist"))
      .groupBy(col("id"))
      .agg(min(struct(col("dist"), col("cid"))).getField("cid").as("cluster"))
  }

  test("NearestSubCellQ equals the per-cell join argmin, including exact ties") {
    val rnd = new scala.util.Random(19)
    val dim = 8
    // 3 coarse cells × 3 sub-centroids; leaf ids globally unique, ascending
    // within each cell (the tie-break contract)
    val sub: Seq[(Int, Int, Seq[Long])] = for {
      c <- 0 until 3; j <- 0 until 3
    } yield (c, c * 3 + j, Seq.fill(dim)((rnd.nextLong() % 1000L) * 4L))
    // midpoint of coarse cell 1's first two subs: equidistant inside its
    // cell → must break to the LOWER leaf id (3) on both paths
    val s10 = sub.find(t => t._1 == 1 && t._2 == 3).get._3
    val s11 = sub.find(t => t._1 == 1 && t._2 == 4).get._3
    val mid = (0 until dim).map(i => (s10(i) + s11(i)) / 2)
    val vecs: Seq[(Long, Int, Seq[Long])] =
      (0 until 200).map(i =>
        (i.toLong, i % 3, Seq.fill(dim)(rnd.nextLong() % 4000L))) ++
        Seq((900L, 1, mid), (901L, 2, sub.find(_._2 == 8).get._3))
    val df = vecs.toDF("id", "coarse", "q")
    val fast = df.select(col("id"),
        graft.functions.NearestSubCellQ(col("q"), col("coarse"), sub).as("cluster"))
    val ref = subCrossJoinAssign(df, sub)
    assert(fast.join(ref.withColumnRenamed("cluster", "ref"), Seq("id"))
      .filter(not(col("cluster") <=> col("ref"))).count() === 0)
    assert(fast.filter(col("id") === 900L).head.getInt(1) === 3,
      "equidistant sub-centroids break to the lower leaf id")
    assert(fast.filter(col("id") === 901L).head.getInt(1) === 8,
      "an exact sub-centroid copy lands on it")

    // PQ encode: the cell is the subspace (`lit(mm)`) over the whole
    // (subspace, code, centroid) codebook table, the input the subspace's
    // slice — against the per-subspace join argmin of the same slice
    val m = 2; val ds = dim / m
    val codebooks: Seq[(Int, Int, Seq[Long])] = for {
      mm <- 0 until m; code <- 0 until 4
    } yield (mm, code, Seq.fill(ds)((rnd.nextLong() % 1000L) * 4L))
    // subspace 0's slice of row 910 is the midpoint of codes 1 and 2:
    // equidistant → must break to the LOWER code (1) on both paths
    val c01 = codebooks(1)._3; val c02 = codebooks(2)._3
    val pqVecs: Seq[(Long, Seq[Long])] =
      (0 until 200).map(i => i.toLong -> Seq.fill(dim)(rnd.nextLong() % 4000L)) :+
        (910L -> ((0 until ds).map(i => (c01(i) + c02(i)) / 2) ++
          Seq.fill(ds)(rnd.nextLong() % 4000L)))
    val pdf = pqVecs.toDF("id", "v")
    (0 until m).foreach { mm =>
      val sq = pdf.select(col("id"), slice(col("v"), mm * ds + 1, ds).as("q"))
      val pqFast = sq.select(col("id"),
        graft.functions.NearestSubCellQ(col("q"), lit(mm), codebooks).as("cluster"))
      val pqRef = subCrossJoinAssign(sq.withColumn("coarse", lit(mm)), codebooks)
      assert(pqFast.join(pqRef.withColumnRenamed("cluster", "ref"), Seq("id"))
        .filter(not(col("cluster") <=> col("ref"))).count() === 0,
        s"subspace $mm codes differ from the per-subspace join argmin")
    }
    assert(pdf.filter(col("id") === 910L).select(graft.functions.NearestSubCellQ(
        slice(col("v"), 1, ds), lit(0), codebooks)).head.getInt(0) === 1,
      "equidistant PQ codes break to the lower code")
  }

  test("NearestSubCellQ nulls out on bad vectors and out-of-range coarse ids") {
    val sub: Seq[(Int, Int, Seq[Long])] =
      Seq((0, 0, Seq(1L, 2L)), (0, 1, Seq(3L, 4L)), (1, 2, Seq(5L, 6L)))
    val df = Seq(
      (1L, Seq[java.lang.Long](1L, 2L, 3L), Integer.valueOf(0)), // dim mismatch
      (2L, Seq[java.lang.Long](1L, null), Integer.valueOf(0)),   // null element
      (3L, null, Integer.valueOf(0)),                            // null vector
      (4L, Seq[java.lang.Long](1L, 2L), null),                   // null coarse
      (5L, Seq[java.lang.Long](1L, 2L), Integer.valueOf(7)),     // no such cell
      (6L, Seq[java.lang.Long](1L, 2L), Integer.valueOf(-1)),    // negative
      (7L, Seq[java.lang.Long](1L, 2L), Integer.valueOf(1))      // valid → 2
    ).toDF("id", "q", "coarse")
    val out = df.select(col("id"),
        graft.functions.NearestSubCellQ(col("q"), col("coarse"), sub).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getInt(1))).toMap
    assert(out === Map(1L -> null, 2L -> null, 3L -> null, 4L -> null,
      5L -> null, 6L -> null, 7L -> 2))
  }

  test("ResidualQ equals elementwise HOF subtraction, nulls on bad input") {
    val centroids: Seq[(Int, Seq[Long])] =
      Seq((0, Seq(10L, 20L)), (1, Seq(-5L, 7L)), (2, Seq(0L, 0L)))
    val rnd = new scala.util.Random(17)
    val good = (0 until 100).map(i =>
      (i.toLong, Seq.fill(2)(rnd.nextLong() % 5000L), i % 3))
    val df = good.toDF("id", "q", "cell")
    val fast = df.select(col("id"),
        graft.functions.ResidualQ(col("q"), col("cell"), centroids).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val cMap = centroids.toMap
    good.foreach { case (id, q, cell) =>
      assert(fast(id) === q.zip(cMap(cell)).map { case (x, c) => x - c }, s"id $id")
    }
    val bad = Seq(
      (1L, Seq[java.lang.Long](1L, 2L, 3L), Integer.valueOf(0)), // dim mismatch
      (2L, Seq[java.lang.Long](1L, null), Integer.valueOf(0)),   // null element
      (3L, null, Integer.valueOf(0)),                            // null vector
      (4L, Seq[java.lang.Long](1L, 2L), null),                   // null cell
      (5L, Seq[java.lang.Long](1L, 2L), Integer.valueOf(9)),     // no such cell
      (6L, Seq[java.lang.Long](1L, 2L), Integer.valueOf(-1))     // negative
    ).toDF("id", "q", "cell")
    assert(bad.select(graft.functions.ResidualQ(col("q"), col("cell"), centroids))
      .collect().forall(_.isNullAt(0)))
  }

  test("PqAdcQ equals the squared distance to the code-word reconstruction") {
    val rnd = new scala.util.Random(31)
    // 2 subspaces × 3 codes over 4-dim vectors (ds = 2): the ADC identity
    // qn2 − 2·dot + cn2 must equal Σ(x−y)² computed independently
    val cb: Seq[(Int, Int, Seq[Long])] = for {
      m <- 0 until 2; c <- 0 until 3
    } yield (m, c, Seq.fill(2)(rnd.nextLong() % 1000L))
    val rows = (0 until 100).map { i =>
      (i.toLong, Seq.fill(4)(rnd.nextLong() % 4000L),
        Seq(rnd.nextInt(3), rnd.nextInt(3)))
    }
    val df = rows.toDF("id", "q", "codes")
    val fast = df.select(col("id"),
        graft.functions.PqAdcQ(col("q"), col("codes"), cb).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cbMap = cb.map { case (m, c, v) => (m, c) -> v }.toMap
    rows.foreach { case (id, q, codes) =>
      val want = (0 until 2).map { m =>
        val cq = cbMap((m, codes(m)))
        q.slice(m * 2, m * 2 + 2).zip(cq)
          .map { case (x, y) => (x - y) * (x - y) }.sum
      }.sum
      assert(fast(id) === want, s"id $id")
    }
  }

  test("PqAdcQ nulls out on bad vectors and code words") {
    val cb: Seq[(Int, Int, Seq[Long])] = Seq((0, 0, Seq(1L, 2L)),
      (0, 1, Seq(3L, 4L)), (1, 0, Seq(5L, 6L)), (1, 1, Seq(7L, 8L)))
    val df = Seq(
      (1L, Seq[java.lang.Long](1L, 2L, 3L), Seq[Integer](0, 0)),      // dim mismatch
      (2L, Seq[java.lang.Long](1L, null, 3L, 4L), Seq[Integer](0, 0)), // null element
      (3L, null, Seq[Integer](0, 0)),                                  // null vector
      (4L, Seq[java.lang.Long](1L, 2L, 3L, 4L), Seq[Integer](0)),      // short codes
      (5L, Seq[java.lang.Long](1L, 2L, 3L, 4L), Seq[Integer](0, 5)),   // bad code
      (6L, Seq[java.lang.Long](1L, 2L, 3L, 4L), Seq[Integer](0, null)), // null code
      // valid: (1−3)²+(2−4)² + (3−7)²+(4−8)² = 8 + 32 = 40
      (7L, Seq[java.lang.Long](1L, 2L, 3L, 4L), Seq[Integer](1, 1))
    ).toDF("id", "q", "codes")
    val out = df.select(col("id"),
        graft.functions.PqAdcQ(col("q"), col("codes"), cb).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(out === Map(1L -> null, 2L -> null, 3L -> null, 4L -> null,
      5L -> null, 6L -> null, 7L -> 40L))
  }

  test("BpeEncodeCountQ reproduces the run-parity merge rule on crafted cases") {
    // merge table applied in rank order: (a,a) then (aa,b) then (c,c)
    val merges = Seq(("a", "a"), ("aa", "b"), ("c", "c"))
    val df = Seq(
      (1L, Seq("a", "a", "a", "a")),      // (aa)(aa): 2
      (2L, Seq("a", "a", "a")),           // (aa) a: 2
      (3L, Seq("a", "a", "b")),           // r1 (aa) b; r2 (aab): 1
      (4L, Seq("a", "b", "a")),           // no (a,a) pair adjacent: 3
      (5L, Seq("c", "c", "c", "c", "c")), // (cc)(cc) c: 3
      (6L, Seq[String]()),                // empty: 0
      (7L, Seq("x", "y", "z"))            // untouched: 3
    ).toDF("id", "toks")
    val out = df.select(col("id"),
        graft.functions.BpeCountQ(col("toks"), merges).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 3L, 5L -> 3L,
      6L -> 0L, 7L -> 3L))
  }

  test("BpeEncodeCountQ nulls out on null array and null element") {
    val df = Seq(
      (1L, Seq[String]("a", null, "b")),
      (2L, null)
    ).toDF("id", "toks")
    val out = df.select(col("id"),
        graft.functions.BpeCountQ(col("toks"), Seq(("a", "b"))).as("n"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(out === Map(1L -> null, 2L -> null))
  }

  test("MisraGriesTopK holds the MG guarantees under every partitioning") {
    // skewed synthetic stream: term frequencies 1000, 500, 200, then noise
    val rnd = new scala.util.Random(7)
    val rows = (Seq.fill(1000)("alpha") ++ Seq.fill(500)("beta") ++
      Seq.fill(200)("gamma") ++
      (0 until 2000).map(i => s"noise${rnd.nextInt(700)}"))
    val exact = rows.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val n = rows.size.toLong
    val k = 16
    // the merge path is partitioning-dependent — prove the guarantee on
    // several partitionings including single-partition (update-only)
    for (parts <- Seq(1, 3, 8)) {
      val df = spark.createDataFrame(
        rnd.shuffle(rows).map(Tuple1(_))).toDF("term").repartition(parts)
      val sketch = df.agg(graft.functions.MgTopK(col("term"), k).as("s"))
        .collect().head.getSeq[org.apache.spark.sql.Row](0)
      val est = sketch.map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est.size <= k - 1, s"capacity: ${est.size} counters at parts=$parts")
      val err = n / k
      exact.foreach { case (t, trueN) =>
        est.get(t).foreach { e =>
          assert(e <= trueN && e >= trueN - err,
            s"bound: $t est=$e exact=$trueN err<=$err parts=$parts")
        }
        if (trueN > err)
          assert(est.contains(t), s"survival: $t exact=$trueN > N/k=$err parts=$parts")
      }
    }
  }

  test("heavyHitterBounds emits provably-true flags on real docs") {
    val out = graft.llm.TextOps.heavyHitterBounds(
        graft.engine.Tables(spark, sf).documents, "text", 64, 20)
      .collect()
    assert(out.length === 20)
    assert(out.forall(r => r.getBoolean(r.fieldIndex("survived_ok"))))
    assert(out.forall(r => r.getBoolean(r.fieldIndex("bound_ok"))))
    // the audit is vacuous unless at least one term crosses the threshold
    assert(out.exists(r => r.getBoolean(r.fieldIndex("qualifies"))))
  }

  test("BpeEncodeCountQ kernel stats equal the loop-path encode on real docs") {
    val docs = graft.engine.Tables(spark, sf).documents
    val merges = graft.llm.TextOps
      .bpeTrainTable(docs, "doc_id", "text", 4)
      .map { case (_, a, b, _) => (a, b) }
    val fast = graft.llm.TextOps
      .bpeEncodeStatsKernel(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect().toSeq
    val ref = graft.llm.SpecForms
      .bpeEncodeStatsFromMerges(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect().toSeq
    assert(fast === ref)
  }

  test("property: BpeEncodeCountQ stats equal the loop-path encode on generated documents") {
    DocGen.check(spark) { df =>
      val merges = graft.llm.TextOps.bpeTrainTable(df, "doc_id", "text", 3)
        .map { case (_, a, b, _) => (a, b) }
      val fast = graft.llm.TextOps.bpeEncodeStatsKernel(df, "doc_id", "text", merges)
      val ref = graft.llm.SpecForms.bpeEncodeStatsFromMerges(df, "doc_id", "text", merges)
      val (onlyFast, onlyRef) = (fast.except(ref).collect(), ref.except(fast).collect())
      assert(onlyFast.isEmpty && onlyRef.isEmpty, s"kernel and loop encode diverge " +
        s"under merges $merges: kernel-only ${onlyFast.toSeq}, loop-only ${onlyRef.toSeq}")
    }
  }
}

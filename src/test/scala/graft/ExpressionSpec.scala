package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._
import graft.queries.Qutil

/** Native Catalyst kernels: the typed builders against their old
  * HOF/string spellings and against the registered SQL-name spelling. */
class ExpressionSpec extends SparkSpec {

  test("cosine_sim is BIT-identical to the HOF cosine (drop-in swap, zero drift)") {
    // Stronger than approximate agreement: the native fused loop adds each
    // accumulator's terms in the same index order as the three HOF folds,
    // so every IEEE intermediate matches and the swap is exact — meaning
    // the catalog's oracled queries could adopt the codegen'd expression
    // at deployment without invalidating a single golden or oracle hash.
    val e = Tables.embeddings(spark, sf).limit(200)
    val q = Tables.embeddings(spark, sf).where(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val both = e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        cosineSim(col("embedding"), col("qv")).as("native"),
        Qutil.cosineD(col("embedding"), col("qv")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"vec ${r.getLong(0)}: native=${r.getDouble(1)} hof=${r.getDouble(2)}")
    }
  }

  test("cosine_sim callable from SQL after registration") {
    val named = spark.newSession()
    GraftFunctions.registerAll(named)
    Tables.embeddings(named, sf).createOrReplaceTempView("emb_expr_test")
    val r = named.sql(
      """SELECT cosine_sim(a.embedding, b.embedding) AS c
        |FROM emb_expr_test a JOIN emb_expr_test b ON a.vec_id = 0 AND b.vec_id = 0
        |""".stripMargin).head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12, "self-similarity must be 1")
  }

  test("dot_prod / sq_dist are BIT-identical to the HOF folds (float and double sides)") {
    // r15: the native fused loops add terms in the same index-ascending
    // order as the zip_with/aggregate left folds, so swapping them into
    // any call site changes no golden or oracle hash — pinned here at
    // doubleToLongBits grain on every fixture vector, for BOTH element
    // type combinations the catalog uses (float×float corpus pairs,
    // float×double literal centroids/planes).
    import org.apache.spark.sql.types.DoubleType
    // independent HOF spellings (NOT Qutil's defs — a reference the code
    // under test could share is a vacuous pin, the r10 LTTB lesson)
    def dotHof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(
        zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v)
    def sqDistHof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(
        zip_with(a, b, (x, y) => (x.cast(DoubleType) - y) * (x.cast(DoubleType) - y)),
        lit(0.0), (acc, v) => acc + v)
    val e = Tables.embeddings(spark, sf).limit(200)
    val q = Tables.embeddings(spark, sf).where(col("vec_id") === 0)
      .select(col("embedding").as("qv"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("qd"))
    val both = e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        dotProd(col("embedding"), col("qv")).as("nd_ff"),
        dotHof(col("embedding"), col("qv")).as("hd_ff"),
        dotProd(col("embedding"), col("qd")).as("nd_fd"),
        dotHof(col("embedding"), col("qd")).as("hd_fd"),
        sqDist(col("embedding"), col("qv")).as("ns_ff"),
        sqDistHof(col("embedding"), col("qv")).as("hs_ff"),
        sqDist(col("embedding"), col("qd")).as("ns_fd"),
        sqDistHof(col("embedding"), col("qd")).as("hs_fd"))
      .collect()
    assert(both.nonEmpty)
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    both.foreach { r =>
      for ((n, h, nm) <- Seq((1, 2, "dot f×f"), (3, 4, "dot f×d"),
          (5, 6, "sq f×f"), (7, 8, "sq f×d")))
        assert(bits(r.getDouble(n)) === bits(r.getDouble(h)),
          s"vec ${r.getLong(0)} $nm: native=${r.getDouble(n)} hof=${r.getDouble(h)}")
    }
  }

  test("dot_prod / sq_dist null and codegen behavior") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      (2L, Array(0.0f, 0.0f), Array(1.0f, 2.0f))
    ).toDF("id", "a", "b")
      .select(col("id"),
        dotProd(col("a"), col("b")).as("d"),
        sqDist(col("a"), col("b")).as("s"))
    val rows = df.orderBy("id").collect()
    assert(math.abs(rows(0).getDouble(1) - 11.0) < 1e-12)
    assert(math.abs(rows(0).getDouble(2) - 8.0) < 1e-12)
    assert(math.abs(rows(1).getDouble(1) - 0.0) < 1e-12)
    // NULL array => NULL result (null-intolerant binary expression)
    val nd = Seq((1L, Array(1.0f))).toDF("id", "a")
      .select(dotProd(col("a"), lit(null).cast("array<float>")).as("d"))
      .head()
    assert(nd.isNullAt(0))
  }

  test("phash_bits equals the four-stage HOF DCT chain exactly") {
    // r15: the native fused integer DCT kernel vs the ORIGINAL staged
    // HOF spelling (row pass / column pass / AC sum / threshold bits,
    // checkpointed per stage exactly as mm_near_dup_phash used to run
    // it) — all-Long arithmetic, so equality is exact, but the pin
    // keeps the recurrence itself from drifting.
    val tlLit = graft.queries.MmQueries.dctT.map(v => s"${v}L")
      .mkString("array(", ", ", ")")
    val base = Tables.documents(spark, sf).limit(64)
      .selectExpr("doc_id",
        "CAST((doc_id % 8) * 8 AS INT) AS p",
        "upper(concat(sha2(CAST(doc_id DIV 8 AS STRING), 256), " +
          "sha2(sha2(CAST(doc_id DIV 8 AS STRING), 256), 256))) AS hx0")
      .selectExpr("doc_id",
        "transform(sequence(0, 63), k -> CASE WHEN k = p " +
          "THEN CAST(conv(substring(hx0, k*2 + 1, 2), 16, 10) AS INT) ^ 1 " +
          "ELSE CAST(conv(substring(hx0, k*2 + 1, 2), 16, 10) AS INT) END) AS bt")
      .localCheckpoint(true)
    val hof = base
      .selectExpr("doc_id", "bt", s"$tlLit AS tl")
      .selectExpr("doc_id", "tl",
        "transform(sequence(0, 63), i -> aggregate(sequence(0, 7), 0L, " +
          "(a, x) -> a + element_at(tl, CAST((i DIV 8) * 8 + x + 1 AS INT)) " +
          "* element_at(bt, x * 8 + (i % 8) + 1))) AS md")
      .localCheckpoint(true)
      .selectExpr("doc_id",
        "transform(sequence(0, 63), j -> aggregate(sequence(0, 7), 0L, " +
          "(a, y) -> a + element_at(md, CAST((j DIV 8) * 8 + y + 1 AS INT)) " +
          "* element_at(tl, (j % 8) * 8 + y + 1))) AS dct")
      .localCheckpoint(true)
      .selectExpr("doc_id", "dct",
        "aggregate(slice(dct, 2, 63), 0L, (a, x) -> a + x) AS sac")
      .selectExpr("doc_id",
        "transform(dct, c -> CASE WHEN 63 * c > sac THEN 1 ELSE 0 END) AS bits")
    val nat = base.select(col("doc_id"),
      phashBits(col("bt"), array(graft.queries.MmQueries.dctT.map(lit): _*)).as("bits"))
    val h = hof.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val n = nat.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(n.nonEmpty && n.keySet === h.keySet)
    n.foreach { case (id, bits) =>
      assert(bits === h(id), s"doc $id: native $bits vs hof ${h(id)}")
    }
  }

  test("tri_moments equals the nested-HOF moment struct spelling exactly") {
    // r15: the native in-row moment generator vs the inline nested
    // transform/flatten spelling microAll used to carry — all-integer
    // tuples, exact equality, order preserved.
    val qs = transform(col("embedding"),
      x => floor(x.cast(org.apache.spark.sql.types.DoubleType) * 1000000.0 + 0.5)
        .cast("long"))
    val base = Tables.embeddings(spark, sf).limit(50).select(qs.as("qs"))
      .localCheckpoint(true)
    val n = 64
    val hof = base.select(explode(concat(
        transform(sequence(lit(1), lit(n)), i =>
          struct(i.as("i"), lit(0).as("j"), element_at(col("qs"), i).as("p"))),
        flatten(transform(sequence(lit(1), lit(n)), i =>
          transform(sequence(i, lit(n)), j =>
            struct(i.as("i"), j.as("j"),
              (element_at(col("qs"), i) * element_at(col("qs"), j)).as("p")))))))
        .as("t"))
      .select("t.i", "t.j", "t.p").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val nat = base.select(explode(triMoments(col("qs"))).as("t"))
      .select("t.i", "t.j", "t.p").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(nat.nonEmpty && nat.length === hof.length)
    assert(nat.toSeq === hof.toSeq, "tuple stream must match element-for-element")
  }

  test("bitand_count equals the zip_with/bit_count HOF fold") {
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    val df = Seq(
      (1L, Array(0xFFL, 0x0FL, -1L), Array(0x0FL, 0x0FL, Long.MinValue)),
      (2L, Array(0L, 0L, 0L), Array(-1L, -1L, -1L)),
      (3L, Array(0x123456789ABCDEFL, 7L, 1L << 62), Array(-1L, 5L, -1L))
    ).toDF("id", "a", "b")
    val both = df.select(col("id"),
        bitandCount(col("a"), col("b")).as("nat"),
        aggregate(zip_with(col("a"), col("b"),
            (x, y) => bit_count(x.bitwiseAND(y)).cast(LongType)),
          lit(0L), (acc, v) => acc + v).as("hof"))
      .collect()
    both.foreach(r => assert(r.getLong(1) === r.getLong(2), s"id ${r.getLong(0)}"))
  }

  test("simhash60 equals the bit-vote HOF spelling exactly") {
    // r15: native fused SimHash kernel vs the original aggregate/zip_with
    // vote fold + element_at threshold spelling, over fixture token
    // hashes — all-integer, exact equality.
    val hs = transform(array_distinct(split(col("text"), " ")),
      t => Qutil.hash60(t))
    val masks = array((0 until 60).map(j => lit(1L << j)): _*)
    val votes = aggregate(hs,
      array_repeat(lit(0L), 60),
      (acc, h) => zip_with(acc, masks,
        (a, m) => a + when(h.bitwiseAND(m) =!= 0, 1L).otherwise(-1L)))
    val bits = (0 until 60).map(j =>
      when(element_at(col("votes"), j + 1) > 0, lit(1L << j)).otherwise(0L))
    val hof = Tables.documents(spark, sf).limit(100)
      .select(col("doc_id"), votes.as("votes"))
      .localCheckpoint(true)
      .select(col("doc_id"), bits.reduce(_ + _).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nat = Tables.documents(spark, sf).limit(100)
      .select(col("doc_id"), simhash60(hs).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nat.nonEmpty && nat === hof)
  }

  test("affine_min equals the array_min/transform HOF spelling on fixture hashes") {
    // r15: native fused MinHash affine column vs the interpreted
    // spelling, over the real per-token sha-derived hash arrays and the
    // first/last affine params — nonnegative integer domain, exact.
    val p = 2147483647L
    val hs = transform(array_distinct(split(col("text"), " ")),
      t => Qutil.hash60(t))
    for ((a, b) <- Seq((1540483477L, 1013904223L), (11L, 0L), (1L, 1L))) {
      val both = Tables.documents(spark, sf).limit(100)
        .select(col("doc_id"), hs.as("hs"))
        .localCheckpoint(true)
        .select(col("doc_id"),
          affineMin(col("hs"), lit(a), lit(b), lit(p)).as("nat"),
          array_min(transform(col("hs"),
            h => pmod(pmod(h, lit(p)) * lit(a) + lit(b), lit(p)))).as("hof"))
        .collect()
      assert(both.nonEmpty)
      both.foreach(r => assert(r.getLong(1) === r.getLong(2),
        s"doc ${r.getLong(0)} a=$a b=$b"))
    }
    // empty array -> NULL on both paths
    import spark.implicits._
    val e = Seq(Tuple1(Array.empty[Long])).toDF("hs")
      .select(affineMin(col("hs"), lit(3L), lit(5L), lit(p)).as("nat"),
        array_min(transform(col("hs"),
          h => pmod(pmod(h, lit(p)) * lit(3L) + lit(5L), lit(p)))).as("hof"))
      .head()
    assert(e.isNullAt(0) && e.isNullAt(1))
  }

  test("cosine_sim survives whole-stage codegen (no fallback errors) and nulls") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 2.0f), Array(1.0f, 2.0f)),
      (2L, Array(0.0f, 0.0f), Array(1.0f, 2.0f))
    ).toDF("id", "a", "b")
      .select(col("id"), cosineSim(col("a"), col("b")).as("c"))
    val rows = df.orderBy("id").collect()
    assert(math.abs(rows(0).getDouble(1) - 1.0) < 1e-12)
    assert(rows(1).isNullAt(1), "zero-norm vector must yield NULL")
  }

  test("l1_dist is EXACTLY the abs-diff HOF fold incl. length/null arms (r16)") {
    import spark.implicits._
    def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => abs(x - y)), lit(0), (acc, v) => acc + v)
    val df = Seq(
      (1L, Array(0, 1, 1, 0), Array(1, 1, 0, 0)),          // hamming 2
      (2L, Array(5, -3, 7), Array(-2, 4, 7)),              // general ints
      (3L, Array(0, 1), Array(0, 1)),                      // equal -> 0
      (4L, Array(1, 2, 3), Array(1, 2))                    // LENGTH MISMATCH -> NULL
    ).toDF("id", "a", "b")
      .select(col("id"), l1Dist(col("a"), col("b")).as("nat"),
        hof(col("a"), col("b")).as("old"))
      .orderBy("id").collect()
    df.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"null arm id ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getInt(1) === r.getInt(2), s"id ${r.getLong(0)}")
    }
    assert(df(3).isNullAt(1), "length mismatch must be NULL (zip_with pad)")
    val nulls = Seq((9L, Array[Integer](1, null, 0)))
      .toDF("id", "a")
      .select(l1Dist(col("a"), col("a")).as("nat"),
        hof(col("a"), col("a")).as("old")).head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1), "null element -> NULL both paths")
  }

  test("hash60 native kernel is EXACTLY the conv(substring(sha2)) spelling (r16)") {
    // THE portable cross-engine hash: the native digest-read must equal
    // the 3-function string spelling bit-for-bit on every input class the
    // catalog hashes — fixture tokens, salted concats, the empty string,
    // multi-byte UTF-8 — or every minhash/sampling golden breaks. NULL
    // propagates on both paths.
    val toks = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t"))
      .select(col("t"),
        hash60(col("t")).as("nat"),
        Qutil.hash60Composed(col("t")).as("old"))
      .collect()
    assert(toks.length > 1000)
    toks.foreach(r => assert(r.getLong(1) === r.getLong(2), s"tok '${r.getString(0)}'"))
    import spark.implicits._
    val edge = Seq("", "a", "salt:42|x", "héllo wörld é中文", "0"
      ).toDF("t")
      .select(col("t"),
        hash60(col("t")).as("nat"),
        Qutil.hash60Composed(col("t")).as("old"))
      .collect()
    edge.foreach(r => assert(r.getLong(1) === r.getLong(2), s"edge '${r.getString(0)}'"))
    val nul = Seq(Tuple1(null: String)).toDF("t")
      .select(hash60(col("t")).as("nat"),
        Qutil.hash60Composed(col("t")).as("old"))
      .head()
    assert(nul.isNullAt(0) && nul.isNullAt(1), "NULL input -> NULL on both paths")
    // range sanity: 60 bits, always nonnegative (the ANSI-overflow contract)
    toks.foreach(r => assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 60)))
  }

  test("plane_sig native kernel is EXACTLY the HOF packed-signature fold (r16)") {
    // independent HOF spelling (the old packedSig body, rebuilt here so a
    // shared def can't make the pin vacuous — the r10 LTTB lesson)
    def sm(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val planeInts = (0 until 64).map(k =>
      (0 until 64).map(j => math.floorMod(sm(k * 64L + j), 2001L) - 1000L))
    val planes = typedlit(planeInts.map(_.map(_ / 1000.0)))
    val pow2 = typedlit((0 until 64).map(k => 1L << k))
    def hofSig(v: org.apache.spark.sql.Column) =
      aggregate(
        zip_with(transform(planes, p => dotProd(v, p)),
          sequence(lit(0), lit(63)),
          (d, k) => when(d > 0.0, element_at(pow2, k.cast("int") + 1)).otherwise(0L)),
        lit(0L), (acc, x) => acc.bitwiseOR(x))
    val both = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        planeSig(col("embedding"), planes).as("nat"),
        hofSig(col("embedding")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(1) === r.getLong(2), s"vec ${r.getLong(0)}"))
    // NULL vector -> signature 0 on both paths (the when/otherwise arm)
    import spark.implicits._
    val nul = Seq(Tuple1(null: Array[Float])).toDF("embedding")
      .select(planeSig(col("embedding"), planes).as("nat"),
        hofSig(col("embedding")).as("hof"))
      .head()
    assert(!nul.isNullAt(0) && nul.getLong(0) === 0L)
    assert(!nul.isNullAt(1) && nul.getLong(1) === 0L)
  }

  test("quant8_stats / quantpd_stats fields are BIT-identical to the HOF chains (r16)") {
    import org.apache.spark.sql.types.DoubleType
    // --- int8: the old embed_quantize_int8 per-vector spelling, inline
    val maxabs = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    val codes8 = transform(col("embedding"),
      x => floor(x.cast("double") / col("scale_raw") + 0.5).cast("long"))
    val sqerr8 = zip_with(col("embedding"), col("codes"), (x, c) => {
      val r = x.cast("double") - c.cast("double") * col("scale_raw")
      r * r
    })
    val old8 = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"),
        (greatest(maxabs, lit(1e-12)) / 127.0).as("scale_raw"))
      .withColumn("codes", codes8)
      .select(col("vec_id"), col("scale_raw"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"),
        aggregate(sqerr8, lit(0.0), (a, x) => a + x).as("sqe_sum"))
    val nat8 = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        explode(array(quant8Stats(col("embedding")))).as("qs"))
      .select(col("vec_id"), col("qs.scale_raw"), col("qs.code_sum"),
        col("qs.code_min"), col("qs.code_max"), col("qs.sqe_sum"))
    val j8 = nat8.as("n").join(old8.as("o"), col("n.vec_id") === col("o.vec_id")).collect()
    assert(j8.nonEmpty)
    j8.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(7)), s"scale_raw vec ${r.getLong(0)}")
      assert(r.getLong(2) === r.getLong(8), s"code_sum vec ${r.getLong(0)}")
      assert(r.getLong(3) === r.getLong(9), s"code_min vec ${r.getLong(0)}")
      assert(r.getLong(4) === r.getLong(10), s"code_max vec ${r.getLong(0)}")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(5)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(11)), s"sqe_sum vec ${r.getLong(0)}")
    }
    // --- perdim: the old sequence(1,64)/element_at spelling, inline
    val e = Tables.embeddings(spark, sf)
    val stats = e
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast(DoubleType)).as("mn"), max(col("x").cast(DoubleType)).as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          p => p.getField("mn")).as("mns"),
        transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          p => p.getField("mx")).as("mxs"))
      .select(col("mns"),
        zip_with(col("mxs"), col("mns"),
          (mx, mn) => greatest(mx - mn, lit(1e-12)) / 255.0).as("scales"))
    val idx = sequence(lit(1), lit(64))
    val codesP = transform(idx, i =>
      floor((element_at(col("embedding"), i).cast("double") -
        element_at(col("mns"), i)) / element_at(col("scales"), i) + 0.5)
        .cast("long"))
    val sqerrP = transform(idx, i => {
      val r = element_at(col("embedding"), i).cast("double") -
        (element_at(col("mns"), i) +
          element_at(col("codes"), i).cast("double") * element_at(col("scales"), i))
      r * r
    })
    val oldP = e.crossJoin(broadcast(stats))
      .withColumn("codes", codesP)
      .select(col("vec_id"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"),
        aggregate(sqerrP, lit(0.0), (a, x) => a + x).as("sqe_sum"))
    val natP = e.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        explode(array(quantpdStats(
          col("embedding"), col("mns"), col("scales")))).as("qs"))
      .select(col("vec_id"), col("qs.code_sum"), col("qs.code_min"),
        col("qs.code_max"), col("qs.sqe_sum"))
    val jP = natP.as("n").join(oldP.as("o"), col("n.vec_id") === col("o.vec_id")).collect()
    assert(jP.nonEmpty)
    jP.foreach { r =>
      assert(r.getLong(1) === r.getLong(6), s"code_sum vec ${r.getLong(0)}")
      assert(r.getLong(2) === r.getLong(7), s"code_min vec ${r.getLong(0)}")
      assert(r.getLong(3) === r.getLong(8), s"code_max vec ${r.getLong(0)}")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(4)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(9)), s"sqe_sum vec ${r.getLong(0)}")
    }
  }

  test("quant8_stats scale_raw orders NaN greatest, like array_max") {
    // a NaN after index 0 must win the maxabs pass exactly as it wins
    // array_max(transform(v, abs)); the old `a > maxabs` dropped it
    import spark.implicits._
    val both = Seq(
      (1L, Array(1.0f, Float.NaN, 2.0f)),
      (2L, Array(Float.NaN, 3.0f)),
      (3L, Array(-0.0f, 0.5f, Float.NaN)),
      (4L, Array(-4.0f, 0.5f))
    ).toDF("id", "v")
      .select(col("id"),
        quant8Stats(col("v")).getField("scale_raw").as("nat"),
        (greatest(array_max(transform(col("v"), x => abs(x.cast("double")))),
          lit(1e-12)) / 127.0).as("hof"))
      .orderBy("id").collect()
    both.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
      s"id ${r.getLong(0)}: native=${r.getDouble(1)} hof=${r.getDouble(2)}"))
    assert(both(0).getDouble(1).isNaN, "NaN at index 1 must make scale_raw NaN")
  }

  /** Every kernel's input columns on session `s`: fixture vectors plus
    * adversarial rows (NaN, ±0.0, a null element, empty, unequal and
    * null arrays). Derived columns use plain Spark functions only. */
  private def kernelInput(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val fa = ArrayType(FloatType)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", fa), StructField("b", fa)))
    val odd = s.createDataFrame(java.util.Arrays.asList(
      Row(-1L, Seq(Float.NaN, 1f, -0.0f), Seq(0.0f, 2f, 3f)),
      Row(-2L, Seq(-0.0f, 0.0f), Seq(0.0f, -0.0f)),
      Row(-3L, Seq.empty[Float], Seq.empty[Float]),
      Row(-4L, Seq(1f, 2f, 3f), Seq(1f, 2f)),
      Row(-5L, Seq(1f, null, 3f), Seq(1f, 2f, 3f)),
      Row(-6L, null, Seq(1f))), schema)
    val hashes = (c: Column) =>
      transform(c, (x, i) => pmod(xxhash64(x, i), lit(1L << 60)))
    Tables.embeddings(s, sf).limit(64)
      .select(col("vec_id").as("id"), col("embedding").as("a"),
        reverse(col("embedding")).as("b"))
      .unionByName(odd)
      .select(col("id"), col("a"), col("b"),
        transform(col("a"), x => x.cast(DoubleType)).as("ad"),
        col("a").cast(StringType).as("s"),
        hashes(col("a")).as("h"), hashes(col("b")).as("hb"))
      .select(col("*"),
        transform(col("h"), x => (x % 256).cast(IntegerType)).as("ia"),
        transform(col("hb"), x => (x % 2).cast(IntegerType)).as("ib"))
  }

  test("typed builders need no registration and equal the registered SQL-name spelling") {
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    val bare = spark.newSession()
    val named = spark.newSession()
    GraftFunctions.registerAll(named)
    // registerAll and GraftExtensions expose one kernel table
    def fnNames(s: SparkSession) = s.catalog.listFunctions().collect().map(_.name).toSet
    val registered = fnNames(named) -- fnNames(bare)
    val injected = scala.collection.mutable.Set.empty[String]
    new graft.functions.GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(
          f: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    })
    assert(registered.size === 13, registered)
    assert(injected.toSet === registered)

    val dims = 64
    val planes = typedlit(Seq.tabulate(dims, dims)((k, j) => ((k * 31 + j * 17) % 13 - 6) / 6.0))
    val dct = array(graft.queries.MmQueries.dctT.map(lit): _*)
    val mns = typedlit(Seq.tabulate(dims)(j => -1.0 + j / 64.0))
    val scales = typedlit(Seq.tabulate(dims)(j => 0.01 + j / 6400.0))
    // (name, fixture rows only, args, typed builder); phash_bits and
    // quantpd_stats read a fixed 64 elements, so they skip the odd rows
    val cases: Seq[(String, Boolean, Seq[Column], Seq[Column] => Column)] = Seq(
      ("cosine_sim", false, Seq(col("a"), col("b")), c => cosineSim(c(0), c(1))),
      ("dot_prod", false, Seq(col("a"), col("ad")), c => dotProd(c(0), c(1))),
      ("sq_dist", false, Seq(col("ad"), col("b")), c => sqDist(c(0), c(1))),
      ("phash_bits", true, Seq(col("ia"), dct), c => phashBits(c(0), c(1))),
      ("tri_moments", false, Seq(col("h")), c => triMoments(c(0))),
      ("bitand_count", false, Seq(col("h"), col("hb")), c => bitandCount(c(0), c(1))),
      ("simhash60", false, Seq(col("h")), c => simhash60(c(0))),
      ("affine_min", false, Seq(col("h"), lit(1540483477L), lit(1013904223L), lit(2147483647L)),
        c => affineMin(c(0), c(1), c(2), c(3))),
      ("hash60", false, Seq(col("s")), c => hash60(c(0))),
      ("plane_sig", false, Seq(col("a"), planes), c => planeSig(c(0), c(1))),
      ("quant8_stats", false, Seq(col("a")), c => quant8Stats(c(0))),
      ("quantpd_stats", true, Seq(col("a"), mns, scales), c => quantpdStats(c(0), c(1), c(2))),
      ("l1_dist", false, Seq(col("ia"), col("ib")), c => l1Dist(c(0), c(1))))
    assert(cases.map(_._1).toSet === registered)

    // doubles compare at doubleToLongBits grain, everything else exactly
    def canon(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case r: Row => r.toSeq.map(canon)
      case xs: scala.collection.Seq[_] => xs.map(canon)
      case o => o
    }
    def run(s: SparkSession, fixtureOnly: Boolean, c: Column) = {
      val in = kernelInput(s)
      (if (fixtureOnly) in.where(col("id") >= 0) else in)
        .select(col("id"), c.as("v")).orderBy("id").collect()
        .map(r => r.getLong(0) -> canon(r.get(1))).toSeq
    }
    cases.foreach { case (name, fixtureOnly, args, typed) =>
      val got = run(bare, fixtureOnly, typed(args))
      val want = run(named, fixtureOnly, call_function(name, args: _*))
      assert(got.size >= (if (fixtureOnly) 64 else 70), name)
      assert(got === want, name)
    }
    assert(!bare.catalog.functionExists("hash60"), "the typed path registered nothing")
  }
}

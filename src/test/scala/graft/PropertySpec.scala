package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.queries.Qutil

/** Property-based invariants (SURVEY §5.2.3): cosine/Jaccard algebra via
  * the engine's own HOF expressions, CDC diff of identical snapshots, and
  * dedup idempotence. Uses plain scalacheck generators with fixed seeds
  * (build.sbt pins no scalatestplus bridge, and fixed seeds keep reruns
  * deterministic per SURVEY §7.3.6). */
class PropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val vecGen: Gen[List[Float]] =
    Gen.listOfN(8, Gen.chooseNum(-5.0f, 5.0f))
      .suchThat(v => v.exists(x => math.abs(x) > 1e-3))

  test("cosine: self-similarity = 1, symmetry, range [-1,1]") {
    import spark.implicits._
    val pairs = samples(Gen.zip(vecGen, vecGen), 20)
    assert(pairs.nonEmpty)
    val rows = pairs.toDF("a", "b")
      .select(Qutil.cosineD(col("a"), col("a")).as("saa"),
        Qutil.cosineD(col("a"), col("b")).as("sab"),
        Qutil.cosineD(col("b"), col("a")).as("sba"))
      .collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-12)
      assert(r.getDouble(1) >= -1.0 - 1e-9 && r.getDouble(1) <= 1.0 + 1e-9)
    }
  }

  test("jaccard in [0,1]; =1 iff equal token sets (engine token pipeline)") {
    import spark.implicits._
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docGen = Gen.nonEmptyListOf(wordGen).map(_.mkString(" "))
    samples(Gen.zip(docGen, docGen), 20).foreach { case (t1, t2) =>
      val sets = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
        .orderBy("doc_id").collect()
        .map(_.getSeq[String](1).toSet)
      val (a, b) = (sets(0), sets(1))
      val j = (a & b).size.toDouble / (a ++ b).size
      assert(j >= 0.0 && j <= 1.0)
      assert((j == 1.0) === (a == b))
    }
  }

  test("CDC diff of identical snapshots is empty") {
    val ord = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("key"), Qutil.dec2(col("o_totalprice")).as("p_price"))
    val curr = ord.withColumnRenamed("p_price", "c_price")
    val diff = ord.join(curr, Seq("key"), "full_outer")
      .withColumn("op", when(col("p_price").isNull, "I")
        .when(col("c_price").isNull, "D")
        .when(col("p_price") =!= col("c_price"), "U"))
      .where(col("op").isNotNull)
    assert(diff.count() === 0)
  }

  test("exact dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val once = SparkEntry.queries("text_normalize_dedup_exact")(spark, sf)
    val twice = once.groupBy("h").agg(min("doc_id").as("doc_id"))
    assert(twice.count() === once.count())
  }

  test("emitD precondition: money sums stay below 2^53 cents at the largest checked SF") {
    // emitD's bit-identical DECIMAL->DOUBLE claim (Qutil.scala) holds only
    // while the summed UNSCALED value (cents) is < 2^53; past that, Java
    // BigDecimal.doubleValue and DuckDB's hugeint/10^s path may round
    // differently and hash parity would silently break (ADVICE r2). Pin the
    // bound at the largest driver-checked SF so a future fixture bump
    // surfaces it here instead of as an opaque hash mismatch. The whole-
    // table sums upper-bound every grouped money sum in the catalog.
    val sfBench = TestSession.sf01
    assume(new java.io.File(sfBench).isDirectory, s"bench fixture $sfBench absent")
    val liCents = Tables.lineitem(spark, sfBench)
      .agg(sum(Qutil.dec2(col("l_extendedprice"))).as("s"))
      .select((abs(col("s")) * 100).cast("long")).head.getLong(0)
    val ordCents = Tables.orders(spark, sfBench)
      .agg(sum(Qutil.dec2(col("o_totalprice"))).as("s"))
      .select((abs(col("s")) * 100).cast("long")).head.getLong(0)
    val bound = 1L << 53
    assert(liCents < bound && ordCents < bound,
      f"unscaled money sums (li=$liCents%,d ord=$ordCents%,d cents) must stay " +
      f"below 2^53=$bound%,d — emitD's cross-engine cast parity depends on it")
  }

  test("text_containment flags subsumed docs one-directionally") {
    import spark.implicits._
    // inner is a contiguous prefix of outer -> every inner bigram is an
    // outer bigram -> containment(inner->outer) = 1.0; the reverse
    // direction (7 shared of 9 outer bigrams = .78 < .8) must NOT fire,
    // and the unrelated doc must pair with nothing.
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8", "en", "srcT", 8L),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 x1 x2", "en", "srcT", 10L),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8", "en", "srcT", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_contain").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("text_containment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    assert(got.toSeq === Seq((1L, 2L, 1.0)),
      s"expected exactly inner->outer at 1.0, got ${got.toSeq}")
  }

  test("agg_percentile_disc matches an in-memory sorted-array reference") {
    // The distributed rank-selection must agree with the naive definition:
    // element at index floor((n-1)*p) of the sorted per-group cents array.
    val cents = Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("grp"),
        expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("c"),
        col("o_orderkey").as("k"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2))).sorted.map(_._1)).toMap
    val got = SparkEntry.queries("agg_percentile_disc")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val arr = cents(r.getString(0))
      def ref(num: Int, den: Int): Double =
        BigDecimal(arr(((arr.length - 1).toLong * num / den).toInt)) .toDouble / 100.0
      assert(r.getDouble(1) === ref(1, 2), s"p50 of ${r.getString(0)}")
      assert(r.getDouble(2) === ref(9, 10), s"p90 of ${r.getString(0)}")
      assert(r.getDouble(3) === ref(99, 100), s"p99 of ${r.getString(0)}")
      assert(r.getLong(4) === arr.length.toLong)
    }
  }

  test("session windows partition events (no loss, no overlap per user)") {
    val sess = SparkEntry.queries("ts_session")(spark, sf)
    val overlaps = sess.as("x").join(sess.as("y"),
        col("x.user_id") === col("y.user_id") &&
        col("x.sess_start") < col("y.sess_start") &&
        col("y.sess_start") < col("x.sess_end"))
    assert(overlaps.count() === 0, "sessions of one user must not overlap")
  }

  /** In-memory ln-ln least-squares over top-k (cf DESC, tok ASC) — the
    * independent reference for zipfFit (same formulas, plain Scala). */
  private def zipfRef(counts: Map[String, Long], k: Int)
      : (Long, Double, Double, Double) = {
    val top = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(k)
    val xy = top.zipWithIndex.map { case ((_, c), i) =>
      (math.log((i + 1).toDouble), math.log(c.toDouble)) }
    val n = xy.length.toDouble
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val syy = xy.map(p => p._2 * p._2).sum
    (xy.length.toLong,
      (n * sxy - sx * sy) / (n * sxx - sx * sx),
      (sy * sxx - sx * sxy) / (n * sxx - sx * sx),
      ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
        ((n * sxx - sx * sx) * (n * syy - sy * sy)))
  }

  // the fit rounds to 3dp and the engines' ln differs from Java's by ulps:
  // reference parity holds within one rounding step
  private val zipfTol = 1.1e-3

  test("text_zipf_slope: fixture fit matches an in-memory reference; slope non-positive") {
    // The fixture's documents vocabulary is 31 near-uniform tokens — it
    // CANNOT witness a natural-language slope (that's the synthetic test
    // below); what it does witness: the declared query computes exactly
    // the defined fit, and the structural invariant that frequencies
    // non-increasing in rank force a non-positive slope.
    val counts = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ")).groupBy(identity)
      .map { case (t, a) => t -> a.length.toLong }
    val (rk, rs, ri, rr2) = zipfRef(counts, 100)
    val r = SparkEntry.queries("text_zipf_slope")(spark, sf).collect()
    assert(r.length === 1)
    val (k, slope, intercept, r2) =
      (r(0).getLong(0), r(0).getDouble(1), r(0).getDouble(2), r(0).getDouble(3))
    assert(k === rk, s"fit domain: got $k, reference $rk")
    assert(slope <= 0.0, s"rank-ordered frequencies force slope <= 0: $slope")
    assert(math.abs(slope - rs) <= zipfTol &&
      math.abs(intercept - ri) <= zipfTol && math.abs(r2 - rr2) <= zipfTol,
      s"query ($slope, $intercept, $r2) vs reference ($rs, $ri, $rr2)")
  }

  test("text_zipf_slope: a true-Zipf corpus fits slope ~ -1 with a tight fit") {
    // the r5 verdict "done" condition, run where it is actually
    // satisfiable: a synthetic corpus with freq(r) = floor(3000/r) over
    // 150 token types fed through the SAME zipfFit code path.
    import spark.implicits._
    val docs = (1 to 150).map { r =>
      val tok = f"w$r%03d"
      Seq.fill(math.max((3000 / r).toInt, 1))(tok).mkString(" ")
    }.toDF("text")
    val counts = (1 to 150).map(r =>
      f"w$r%03d" -> math.max((3000 / r).toLong, 1L)).toMap
    val (rk, rs, _, rr2) = zipfRef(counts, 100)
    val row = graft.queries.Text2Queries.zipfFit(docs).collect()(0)
    val (k, slope, r2) = (row.getLong(0), row.getDouble(1), row.getDouble(3))
    assert(k === 100L && k === rk)
    assert(math.abs(slope - rs) <= zipfTol, s"query $slope vs reference $rs")
    assert(slope >= -1.05 && slope <= -0.95, s"Zipf corpus must fit slope ~ -1: $slope")
    assert(r2 > 0.995 && math.abs(r2 - rr2) <= zipfTol, s"fit must be tight: $r2")
  }

  test("text_collocations: a planted phrase tops PMI; all rows match a reference") {
    // the fixture's near-uniform vocabulary keeps every PMI near zero, so
    // the discriminating test plants a TRUE phrase ("hong kong": the
    // tokens only ever appear adjacent) against a high-frequency
    // independent pair ("the f*": "the" pairs with everything), fed
    // through the SAME collocations code path.
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      s"hong kong f${i % 10} the f${(i + 3) % 10} the f${(i + 7) % 10}"
    }.toDF("text")
    val out = graft.queries.Text2Queries.collocations(docs).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getDouble(6)))
    // independent reference over the identical adjacency definition
    val bgs = (0 until 60).flatMap { i =>
      val tk = s"hong kong f${i % 10} the f${(i + 3) % 10} the f${(i + 7) % 10}".split(" ")
      tk.init.zip(tk.tail).map { case (a, b) => s"$a $b" }
    }
    val cnt = bgs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cx = bgs.map(_.split(" ")(0)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cy = bgs.map(_.split(" ")(1)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = bgs.size.toLong
    out.foreach { case (bg, c, cxv, cyv, pmi) =>
      val Array(x, y) = bg.split(" ")
      assert(c === cnt(bg) && cxv === cx(x) && cyv === cy(y), s"counts for $bg")
      val ref = math.log((n * c).toDouble / (cxv * cyv).toDouble)
      assert(math.abs(pmi - ref) < 1e-6, s"pmi for $bg: $pmi vs $ref")
    }
    val byBg = out.map(t => t._1 -> t._5).toMap
    assert(byBg.contains("hong kong"), "planted phrase must rank in the top-K")
    val hk = byBg("hong kong")
    // the phrase's PMI is the maximum, positive, and beats every "the *"
    assert(hk > 0.0 && hk === out.map(_._5).max, s"phrase PMI must top the list: $hk")
    byBg.filter(_._1.startsWith("the ")).values.foreach(p =>
      assert(p < hk, "independent high-frequency pairs must score below the phrase"))
  }

  test("dq_drift_psi: independent recompute; Gibbs nonnegativity holds") {
    // recompute PSI from raw events in plain Scala (sharing only the
    // unix_micros extraction with the engine): integer day split,
    // integer bucket edges, +1/+10 smoothing, bucket-ascending fold
    val raw = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) AS us", "value").collect()
      .map(r => (r.getLong(0) / 86400000000L,
        math.floor(r.getDouble(1) * 100.0 + 0.5).toLong))
    val (minD, maxD) = (raw.map(_._1).min, raw.map(_._1).max)
    val (minC, maxC) = (raw.map(_._2).min, raw.map(_._2).max)
    val mid = minD + (maxD - minD) / 2
    val base = Array.fill(10)(0L)
    val cur = Array.fill(10)(0L)
    raw.foreach { case (day, cents) =>
      val b = (((cents - minC) * 10) / (maxC - minC + 1)).toInt
      if (day <= mid) base(b) += 1 else cur(b) += 1
    }
    val (nb, nc) = (base.sum, cur.sum)
    val terms = (0 until 10).map { b =>
      val p = (base(b) + 1).toDouble / (nb + 10).toDouble
      val q = (cur(b) + 1).toDouble / (nc + 10).toDouble
      (p - q) * math.log(p / q)
    }
    val psi = terms.foldLeft(0.0)(_ + _)
    val rows = SparkEntry.queries("dq_drift_psi")(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val (b, bc, cc, term, psiGot) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(bc === base(b), s"bucket $b baseline count")
      assert(cc === cur(b), s"bucket $b current count")
      assert(math.abs(term - terms(b)) < 1.1e-6, s"bucket $b term: $term vs ${terms(b)}")
      assert(term >= 0.0, s"Gibbs nonnegativity broken at bucket $b")
      assert(math.abs(psiGot - psi) < 1.1e-6, s"psi: $psiGot vs $psi")
      assert(psiGot >= 0.0)
    }
  }

  test("dq_js_drift: independent recompute; symmetry and [0, ln 2] bounds hold") {
    // same raw extraction + integer split/bucket arithmetic as the psi
    // recompute, then the JS term 0.5·(p·ln(p/m) + q·ln(q/m))
    val raw = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) AS us", "value").collect()
      .map(r => (r.getLong(0) / 86400000000L,
        math.floor(r.getDouble(1) * 100.0 + 0.5).toLong))
    val (minD, maxD) = (raw.map(_._1).min, raw.map(_._1).max)
    val (minC, maxC) = (raw.map(_._2).min, raw.map(_._2).max)
    val mid = minD + (maxD - minD) / 2
    val base = Array.fill(10)(0L)
    val cur = Array.fill(10)(0L)
    raw.foreach { case (day, cents) =>
      val b = (((cents - minC) * 10) / (maxC - minC + 1)).toInt
      if (day <= mid) base(b) += 1 else cur(b) += 1
    }
    val (nb, nc) = (base.sum, cur.sum)
    def jsTerms(a: Array[Long], na: Long, b: Array[Long], nbb: Long): Seq[Double] =
      (0 until 10).map { k =>
        val p = (a(k) + 1).toDouble / (na + 10).toDouble
        val q = (b(k) + 1).toDouble / (nbb + 10).toDouble
        val m = 0.5 * (p + q)
        0.5 * (p * math.log(p / m) + q * math.log(q / m))
      }
    val terms = jsTerms(base, nb, cur, nc)
    val jsd = terms.foldLeft(0.0)(_ + _)
    // the defining JSD property psi lacks: swapping the cohorts is a no-op
    val swapped = jsTerms(cur, nc, base, nb).foldLeft(0.0)(_ + _)
    assert(math.abs(jsd - swapped) < 1e-12, "JS divergence must be symmetric")
    assert(jsd >= 0.0 && jsd <= math.log(2.0) + 1e-12, "JSD must live in [0, ln 2]")
    val rows = SparkEntry.queries("dq_js_drift")(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val (b, bc, cc, term, jsdGot) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(bc === base(b), s"bucket $b baseline count")
      assert(cc === cur(b), s"bucket $b current count")
      assert(math.abs(term - terms(b)) < 1.1e-6, s"bucket $b term: $term vs ${terms(b)}")
      assert(term >= 0.0, s"per-bucket JS term negative at bucket $b")
      assert(math.abs(jsdGot - jsd) < 1.1e-6, s"jsd: $jsdGot vs $jsd")
    }
  }

  test("text_cross_source_dup: in-memory recompute from the engine's buckets") {
    // collect the SHARED bucket frame once, then re-derive the pruned
    // cross-source census with a driver-side join — pins the stop-bucket
    // filter, the source<source pairing, distinctness, and the counts
    val docs = Tables.documents(spark, sf)
    val bk = graft.queries.TextQueries.minhashBuckets(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
    val byBucket = bk.groupBy(t => (t._3, t._4)).filter(_._2.length <= 50)
    val pairs = byBucket.values.flatMap { g0 =>
      val g = g0.toSeq
      for (x <- g; y <- g if x._2 < y._2)
        yield ((x._2, y._2), (x._1, y._1))
    }.toSeq.distinct
    val expected = pairs.groupBy(_._1).view.mapValues { v =>
      (v.size.toLong, v.map(_._2._1).distinct.size.toLong,
        v.map(_._2._2).distinct.size.toLong)
    }.toMap
    val rows = SparkEntry.queries("text_cross_source_dup")(spark, sf).collect()
    assert(rows.length === expected.size)
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val (np, na, nb) = expected(key)
      assert(r.getString(0) < r.getString(1), "matrix must be upper-triangular")
      assert(r.getLong(2) === np && r.getLong(3) === na && r.getLong(4) === nb,
        s"census for $key")
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(4) <= r.getLong(2))
    }
  }

  test("scd2_type3: current equals the merged table; priors only on true updates") {
    val merged = SparkEntry.queries("cdc_merge_upsert")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val rows = SparkEntry.queries("scd2_type3")(spark, sf).collect()
    assert(rows.length === merged.size,
      "type-3 dimension must carry exactly the merged key set")
    var nPrior = 0
    rows.foreach { r =>
      assert(merged(r.getLong(0)) === r.getDouble(1),
        s"key ${r.getLong(0)} current price diverges from cdc_merge_upsert")
      if (!r.isNullAt(2)) {
        nPrior += 1
        assert(r.getDouble(2) !== r.getDouble(1), "a prior must differ from current")
        assert(!r.getBoolean(3), "an insert cannot carry a prior")
      }
    }
    assert(nPrior > 0, "fixture must contain updates")
    assert(rows.exists(_.getBoolean(3)), "fixture must contain inserts")
  }

  test("dq_key_uniqueness: per-candidate recompute; the compound-key trap flags") {
    val rows = SparkEntry.queries("dq_key_uniqueness")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toMap
    assert(rows.size === 4)
    // true keys audit clean
    Seq("customer.c_custkey", "orders.o_orderkey").foreach { k =>
      val (n, nd, dup, mx, uniq) = rows(k)
      assert(uniq && n === nd && dup === 0L && mx === 1L, s"$k should be unique")
    }
    // the FIXTURES.md lesson, now a declared audit row: the documented
    // compound key is NOT unique on these fixtures
    val (n2, nd2, dup2, mx2, uniq2) = rows("lineitem.l_orderkey+l_linenumber")
    assert(!uniq2 && nd2 < n2 && dup2 > 0L && mx2 > 1L,
      "the lineitem compound key must flag as non-unique")
    // in-memory recompute of one audit
    val li = Tables.lineitem(spark, sf).selectExpr("l_orderkey", "l_linenumber")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val byKey = li.groupBy(identity).view.mapValues(_.length).toMap
    assert(n2 === li.length.toLong && nd2 === byKey.size.toLong)
    assert(dup2 === byKey.values.filter(_ > 1).sum.toLong)
    assert(mx2 === byKey.values.max.toLong)
  }

  test("text_doclen_profile: exact per-source percentile recompute") {
    val docs = Tables.documents(spark, sf)
      .selectExpr("source", "doc_id", "CAST(size(split(text, ' ')) AS INT)").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val rows = SparkEntry.queries("text_doclen_profile")(spark, sf).collect()
    val bySrc = docs.groupBy(_._1)
    assert(rows.length === bySrc.size)
    rows.foreach { r =>
      val g = bySrc(r.getString(0)).sortBy(t => (t._3, t._2)).map(_._3)
      val n = g.length.toLong
      def pick(num: Long, den: Long) = g((((n - 1) * num) / den).toInt)
      assert(r.getLong(1) === n && r.getLong(2) === g.map(_.toLong).sum)
      assert(r.getInt(3) === pick(1, 10) && r.getInt(4) === pick(1, 2) &&
        r.getInt(5) === pick(9, 10) && r.getInt(6) === g.max)
      assert(r.getInt(3) <= r.getInt(4) && r.getInt(4) <= r.getInt(5) &&
        r.getInt(5) <= r.getInt(6), "percentiles must be ordered")
    }
  }

  test("agg_jarque_bera: exact-moment recompute; verdict consistent") {
    val raw = Tables.lineitem(spark, sf)
      .selectExpr("l_returnflag", "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)")
      .collect().map(r => (r.getString(0), BigInt(r.getLong(1))))
    val rows = SparkEntry.queries("agg_jarque_bera")(spark, sf).collect()
    val byGrp = raw.groupBy(_._1)
    assert(rows.length === byGrp.size)
    rows.foreach { r =>
      val cs = byGrp(r.getString(0)).map(_._2)
      val n = cs.length.toDouble
      val (m1, m2, m3, m4) = (cs.sum.toDouble, cs.map(c => c * c).sum.toDouble,
        cs.map(c => c * c * c).sum.toDouble, cs.map(c => c * c * c * c).sum.toDouble)
      val mu = m1 / n
      val v = m2 / n - mu * mu
      val s0 = (m3 / n - 3 * mu * (m2 / n) + 2 * mu * mu * mu) / (v * math.sqrt(v))
      val k0 = (m4 / n - 4 * mu * (m3 / n) + 6 * mu * mu * (m2 / n) - 3 * mu * mu * mu * mu) / (v * v) - 3
      val jb = math.rint((n / 6.0) * (s0 * s0 + (k0 * k0) / 4.0) * 1e6) / 1e6
      assert(r.getLong(1) === cs.length.toLong)
      assert(math.abs(r.getDouble(2) - jb) < math.max(1.1e-6, jb * 1e-9),
        s"${r.getString(0)} jb: ${r.getDouble(2)} vs $jb")
      assert(r.getBoolean(3) === (r.getDouble(2) > 5.99), "verdict must follow jb")
      assert(r.getDouble(2) >= 0.0, "JB is a sum of squares")
    }
  }

  test("ts_concurrency: in-memory session-occupancy recompute") {
    val ev = Tables.events(spark, sf).where(col("event_type") === "view")
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the shared gaps-and-islands semantics: 30-min gap, en = last + gap
    val sessions = ev.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(e => (e._2, e._3))
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      sorted.foreach { e =>
        spans.lastOption match {
          case Some((st, lastTs)) if e._2 - lastTs < 1800000000L =>
            spans(spans.length - 1) = (st, e._2)
          case _ => spans += ((e._2, e._2))
        }
      }
      spans.map { case (st, lastTs) => (g.head._1, st, lastTs + 1800000000L) }
    }.toSeq
    val occ = sessions.flatMap { case (u, st, en) =>
      (st / 3600000000L to en / 3600000000L).map(hr => (hr, u))
    }
    val expected = occ.groupBy(_._1).view
      .mapValues(v => (v.size.toLong, v.map(_._2).distinct.size.toLong)).toMap
    val rows = SparkEntry.queries("ts_concurrency")(spark, sf).collect()
    assert(rows.length === expected.size)
    rows.foreach { r =>
      val (n, u) = expected(r.getLong(0))
      assert(r.getLong(1) === n && r.getLong(2) === u, s"hour ${r.getLong(0)}")
      assert(r.getLong(1) >= r.getLong(2), "sessions >= users every hour")
    }
  }

  test("dq_header_detail: census closure and in-memory gap recompute") {
    val lineCents = "CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100.0 + 0.5) AS BIGINT)"
    val det = Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey", lineCents).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(v => v.map(c => BigInt(c._2)).sum).toMap
    val hdr = Tables.orders(spark, sf)
      .selectExpr("o_orderkey", "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val r = SparkEntry.queries("dq_header_detail")(spark, sf).collect()(0)
    val (n, nMiss, nExact, nWithin, nLarge) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(n === hdr.length.toLong)
    assert(nMiss + nExact + nWithin + nLarge === n, "census must close")
    val gaps = hdr.flatMap { case (k, h) => det.get(k).map(d => (h, (BigInt(h) - d).abs)) }
    assert(nMiss === hdr.count(h => !det.contains(h._1)).toLong)
    assert(nExact === gaps.count(_._2 === BigInt(0)).toLong)
    assert(nWithin === gaps.count(g => g._2 > 0 && g._2 * 100 <= g._1).toLong)
    assert(nLarge === gaps.count(g => g._2 * 100 > g._1).toLong)
    if (gaps.nonEmpty) assert(BigInt(r.getLong(5)) === gaps.map(_._2).max)
  }

  test("text_quality_histogram: dense grid, mass conservation, bp consistency") {
    val rows = SparkEntry.queries("text_quality_histogram")(spark, sf).collect()
    assert(rows.length === 11 && rows.map(_.getInt(0)).toSet === (0 to 10).toSet)
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === nDocs, "doc mass must conserve")
    rows.filter(_.getLong(1) > 0).foreach { r =>
      // bucket bounds hold: every observed bp lives in [bucket*1000, ...)
      assert(r.getInt(3) / 1000 === r.getInt(0) && r.getInt(4) / 1000 === r.getInt(0))
      assert(r.getInt(3) <= r.getInt(4) && r.getLong(2) >= 1L)
    }
    rows.filter(_.getLong(1) === 0L).foreach(r => assert(r.isNullAt(3) && r.isNullAt(4)))
    // scores are a quality signal: the mass must not all land in one cell
    assert(rows.count(_.getLong(1) > 0) >= 2, "degenerate score distribution")
  }

  test("join_asof_forward: independent next-purchase recompute") {
    val ev = Tables.events(spark, sf)
      .selectExpr("event_id", "user_id", "event_type", "unix_micros(ts) AS us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byUser = ev.groupBy(_._2).view.mapValues(_.sortBy(e => (e._4, e._1))).toMap
    val rows = SparkEntry.queries("join_asof_forward")(spark, sf).collect()
    assert(rows.length === ev.length)
    val expect = byUser.values.flatMap { es =>
      es.zipWithIndex.map { case (e, i) =>
        val nxt = es.drop(i + 1).find(_._3 == "purchase")
          .filter(p => p._4 - e._4 <= 86400000000L)
        e._1 -> nxt.map(p => (p._1, (p._4 - e._4) / 60000000L))
      }
    }.toMap
    rows.foreach { r =>
      val exp = expect(r.getLong(0))
      exp match {
        case Some((pid, mins)) =>
          assert(r.getLong(2) === pid, s"event ${r.getLong(0)} next purchase")
          assert(r.getLong(3) === mins, s"event ${r.getLong(0)} elapsed")
        case None =>
          assert(r.isNullAt(2) && r.isNullAt(3), s"event ${r.getLong(0)} must be null")
      }
    }
    // a purchase's own next match is strictly AFTER it (never itself)
    val pids = ev.filter(_._3 == "purchase").map(_._1).toSet
    rows.filter(r => pids(r.getLong(0)) && !r.isNullAt(2))
      .foreach(r => assert(r.getLong(2) !== r.getLong(0), "self-match leaked"))
  }

  test("cdc_watermark_ticks: windows partition the table; watermark advances") {
    val days = Tables.orders(spark, sf)
      .selectExpr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000 AS day")
      .collect().map(_.getLong(0))
    val rows = SparkEntry.queries("cdc_watermark_ticks")(spark, sf).collect()
      .sortBy(_.getInt(0))
    assert(rows.length === 3)
    // the three (lo, hi] windows extract EVERY order exactly once
    assert(rows.map(_.getLong(3)).sum === days.length.toLong,
      "ticks must partition the order stream")
    // boundaries chain: each tick resumes where the previous stopped
    assert(rows(0).getLong(1) === days.min - 1, "first sync starts below the min")
    assert(rows.zip(rows.tail).forall(t => t._1.getLong(2) === t._2.getLong(1)),
      "tick windows must chain half-open")
    assert(rows.last.getLong(2) === days.max, "last tick must close at the max day")
    rows.foreach { r =>
      // the new watermark lives inside the tick's window
      assert(r.getLong(5) > r.getLong(1) && r.getLong(5) <= r.getLong(2))
      // per-tick recompute of the extracted census
      val in = days.filter(d => d > r.getLong(1) && d <= r.getLong(2))
      assert(r.getLong(3) === in.length.toLong && r.getLong(5) === in.max)
      assert(r.getLong(4) === in.distinct.length.toLong)
    }
  }

  test("dq_partition_checksum: exact additive-checksum recompute per partition") {
    def hash60(s0: String): Long = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val p = 1000000007L
    val raw = Tables.orders(spark, sf)
      .selectExpr("o_orderpriority", "o_orderkey",
        "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val rows = SparkEntry.queries("dq_partition_checksum")(spark, sf).collect()
    val byPart = raw.groupBy(_._1)
    assert(rows.length === byPart.size)
    rows.foreach { r =>
      val part = r.getString(0)
      val vs = byPart(part)
      assert(r.getLong(1) === vs.length.toLong, s"$part count")
      val ck = vs.map(v => BigInt(hash60(s"${v._2}|${v._3}") % p)).sum % p
      assert(BigInt(r.getLong(2)) === ck, s"$part checksum")
      assert(r.getLong(3) === vs.map(_._2).min && r.getLong(4) === vs.map(_._2).max)
    }
    // the checksum actually discriminates: partitions differ pairwise
    assert(rows.map(_.getLong(2)).distinct.length === rows.length,
      "fixture checksums should be pairwise distinct")
  }

  test("decontShingled: short docs shingle to empty, never throw (sequence(1,0) guard)") {
    import spark.implicits._
    // <= 4 tokens => zero shingles (Spark sequence(1, 0) is the
    // DESCENDING [1, 0] — unguarded this evaluated slice(tk, 0, 5) and
    // threw); 5 tokens => exactly one shingle at pos 1; 7 => three
    val docs = Seq(
      (1L, "only three words", "s"),
      (2L, "a b c d", "s"),
      (3L, "one two three four five", "s"),
      (4L, "a b c d e f g", "s")).toDF("doc_id", "text", "source")
    val sh = graft.queries.SampleQueries.decontShingledOf(docs)
      .select("doc_id", "pos", "sh").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(!sh.exists(s => s._1 == 1L || s._1 == 2L), "short docs must shingle empty")
    assert(sh.filter(_._1 == 3L).toSeq === Seq((3L, 1, "one two three four five")))
    assert(sh.filter(_._1 == 4L).map(s => (s._2, s._3)).toSeq ===
      Seq((1, "a b c d e"), (2, "b c d e f"), (3, "c d e f g")))
  }

  test("text_perplexity_split: independent cross-split LM recompute; leakage-safe scoring") {
    def hash60(s0: String): Long = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def splitOf(id: Long): String = {
      val b = hash60("split:" + id) % 100
      if (b < 80) "train" else if (b < 90) "valid" else "test"
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val model = docs.filter(d => splitOf(d._1) == "train").flatMap(_._2)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (vsz, ntr) = (model.size.toLong, model.values.sum)
    val expected = docs.filter(d => splitOf(d._1) == "test").map { case (id, tk) =>
      val nll = -tk.map(t =>
        math.log((model.getOrElse(t, 0L) + 1).toDouble / (ntr + vsz + 1).toDouble)).sum /
        tk.length.toDouble
      id -> (tk.length.toLong, nll)
    }.toMap
    val rows = SparkEntry.queries("text_perplexity_split")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSet === expected.keySet,
      "scored docs must be exactly the test split")
    rows.foreach { case (id, nTok, nll) =>
      assert(nTok === expected(id)._1, s"doc $id token count")
      // rounding grid (5e-4) + FP sum-order drift headroom
      assert(math.abs(nll - expected(id)._2) < 6e-4, s"doc $id nll")
      // finite even for OOV-heavy docs (add-1 bounds every term)
      assert(nll > 0.0 && nll <= math.log((ntr + vsz + 1).toDouble), s"doc $id bound")
    }
  }

  test("sample_dsir_weights: independent bigram-model recompute; target-domain separation") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1).toSeq))
    def bigrams(tk: Seq[String]): Seq[String] =
      if (tk.length < 2) Seq.empty else tk.sliding(2).map(_.mkString(" ")).toSeq
    val raw = docs.flatMap(d => bigrams(d._3))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (v, nr) = (raw.size.toLong, raw.values.sum)
    val tsrc = docs.map(_._2).min
    val tgt = docs.filter(_._2 == tsrc).flatMap(d => bigrams(d._3))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nt = tgt.values.sum
    val expected = docs.map { case (id, src, tk) =>
      val bs = bigrams(tk)
      val w = bs.map(b =>
        math.log((tgt.getOrElse(b, 0L) + 1).toDouble / (nt + v + 1).toDouble) -
          math.log((raw(b) + 1).toDouble / (nr + v + 1).toDouble)).sum
      id -> (src, bs.length.toLong, w)
    }.toMap
    val rows = SparkEntry.queries("sample_dsir_weights")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSet === expected.keySet, "doc-grain emission is total")
    rows.foreach { case (id, src, nFeat, w) =>
      val (esrc, en, ew) = expected(id)
      assert(src === esrc && nFeat === en, s"doc $id grain")
      // r3 grid (5e-4) + FP sum-order drift headroom
      assert(math.abs(w - ew) < 6e-4, s"doc $id weight")
    }
    // the DSIR point: target-domain docs score above every other domain
    val bySrc = rows.groupBy(_._2).view.mapValues(g => g.map(_._4).sum / g.length).toMap
    assert(bySrc(tsrc) > 0.0, "target-domain mean importance must be positive")
    bySrc.foreach { case (s0, m) =>
      if (s0 != tsrc) assert(m < bySrc(tsrc), s"$s0 mean must sit below the target's")
    }
  }

  test("agg_dp_counts: independent noise recompute from the key hash; mechanism invariants") {
    def hash60(s0: String): Long = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    // independent threshold re-derivation (same math, written fresh):
    // two-sided geometric p=1/2 truncated to [-8,8], renormalized
    val raw = (-8 to 8).map(k => math.pow(0.5, math.abs(k)))
    val thr = raw.init.scanLeft(0.0)(_ + _).tail
      .map(c => math.floor(c / raw.sum * math.pow(2.0, 60)).toLong)
    def noise(key: String): Long = {
      val h = hash60("dp:" + key)
      val idx = thr.count(_ <= h)
      (idx - 8).toLong
    }
    val trueCnt = Tables.customer(spark, sf)
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = SparkEntry.queries("agg_dp_counts")(spark, sf).collect()
    assert(rows.length === trueCnt.size)
    rows.foreach { r =>
      val (name, nt, nz, nn) = (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nt === trueCnt(name), s"$name true count")
      assert(nz === noise(name), s"$name noise")
      assert(math.abs(nz) <= 8L, s"$name noise bound")
      assert(nn === math.max(nt + nz, 0L), s"$name clamped release")
    }
    // the mechanism actually perturbs on this fixture: some key gets
    // nonzero noise (P[all 25 draws = 0] = (1/3)^25 — if this ever
    // fires, the hash pipeline is broken, not unlucky)
    assert(rows.exists(_.getLong(2) != 0L), "all noise zero — hash path broken")
  }

  test("dq_outlier_iqr: independent per-group fence recompute") {
    val raw = Tables.orders(spark, sf)
      .selectExpr("o_orderpriority", "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)",
        "o_orderkey").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val rows = SparkEntry.queries("dq_outlier_iqr")(spark, sf).collect()
    val byGrp = raw.groupBy(_._1)
    assert(rows.length === byGrp.size)
    rows.foreach { r =>
      val grp = r.getString(0)
      val sorted = byGrp(grp).sortBy(t => (t._2, t._3)).map(_._2)
      val n = sorted.length.toLong
      val q1 = sorted((((n - 1) * 1) / 4).toInt)
      val q3 = sorted((((n - 1) * 3) / 4).toInt)
      val lo = q1 - (3 * (q3 - q1)) / 2
      val hi = q3 + (3 * (q3 - q1)) / 2
      assert(r.getLong(1) === n, s"$grp n_orders")
      assert(math.abs(r.getDouble(2) - q1 * 0.01) < 1e-9, s"$grp p25")
      assert(math.abs(r.getDouble(3) - q3 * 0.01) < 1e-9, s"$grp p75")
      assert(r.getLong(4) === sorted.count(_ < lo).toLong, s"$grp n_low")
      assert(r.getLong(5) === sorted.count(_ > hi).toLong, s"$grp n_high")
      val rate = math.rint((r.getLong(4) + r.getLong(5)).toDouble / n * 1e6) / 1e6
      assert(math.abs(r.getDouble(6) - rate) < 1.1e-6, s"$grp rate")
      // Tukey fences at 1.5×IQR must keep the bulk: outliers are a minority
      assert(r.getLong(4) + r.getLong(5) < n / 2, s"$grp fences ate the bulk")
    }
  }

  test("ts_dow_hour_heatmap: dense grid, mass conservation, cell recompute") {
    val rows = SparkEntry.queries("ts_dow_hour_heatmap")(spark, sf).collect()
    assert(rows.length === 168, "heatmap must emit the full 7x24 grid")
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSet ===
      (for (d <- 0 until 7; h <- 0 until 24) yield (d, h)).toSet)
    val raw = Tables.events(spark, sf)
      .selectExpr("CAST(dayofweek(ts) - 1 AS INT) AS dow", "CAST(hour(ts) AS INT) AS hr",
        "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
    assert(rows.map(_.getLong(2)).sum === raw.length.toLong, "event mass must conserve")
    val byCell = raw.groupBy(_._1)
    rows.foreach { r =>
      val cell = (r.getInt(0), r.getInt(1))
      val ev = byCell.getOrElse(cell, Array.empty[((Int, Int), Long)])
      assert(r.getLong(2) === ev.length.toLong, s"cell $cell count")
      assert(BigInt(r.getLong(3)) === ev.map(t => BigInt(t._2)).sum, s"cell $cell cents")
    }
  }

  test("text_source_divergence: independent recompute; JSD bounds hold") {
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val counts = docs.flatMap { case (s0, t) => t.split(" ", -1).map(s0 -> _) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val vocab = counts.keys.map(_._2).toSeq.distinct.sorted
    val corpus = vocab.map(tok => tok -> counts.collect {
      case ((_, t), c) if t == tok => c }.sum).toMap
    val ng = corpus.values.sum
    val vv = vocab.size.toLong
    val rows = SparkEntry.queries("text_source_divergence")(spark, sf).collect()
    val srcs = docs.map(_._1).distinct
    assert(rows.length === srcs.length)
    rows.foreach { r =>
      val src = r.getString(0)
      val ns = counts.collect { case ((s0, _), c) if s0 == src => c }.sum
      assert(r.getLong(1) === ns, s"$src token mass")
      val jsd = vocab.map { tok =>
        val c = counts.getOrElse((src, tok), 0L)
        val p = (c + 1).toDouble / (ns + vv).toDouble
        val q = (corpus(tok) + 1).toDouble / (ng + vv).toDouble
        val m = 0.5 * (p + q)
        0.5 * (p * math.log(p / m) + q * math.log(q / m))
      }.foldLeft(0.0)(_ + _)
      assert(jsd >= 0.0 && jsd <= math.log(2.0) + 1e-12, s"$src JSD out of [0, ln 2]")
      assert(math.abs(r.getDouble(2) - jsd) < 1.1e-6, s"$src jsd: ${r.getDouble(2)} vs $jsd")
    }
  }

  test("agg_pareto: decile partition, monotone concentration, closure at 1") {
    val rev = Tables.orders(spark, sf)
      .selectExpr("o_custkey", "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val sorted = rev.sortBy { case (cust, cents) => (-cents, cust) }
    val n = sorted.length.toLong
    val rows = SparkEntry.queries("agg_pareto")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum === n, "deciles must partition the customers")
    // per-decile masses match an in-memory recompute on the same rank rule
    val expected = sorted.zipWithIndex
      .groupBy { case (_, i) => (i.toLong * 10) / n }
      .view.mapValues(v => (v.size.toLong, v.map(t => BigInt(t._1._2)).sum)).toMap
    rows.foreach { r =>
      val (exN, exC) = expected(r.getInt(0).toLong)
      assert(r.getLong(1) === exN && BigInt(r.getLong(2)) === exC, s"decile ${r.getInt(0)}")
    }
    // concentration: cum_share is increasing and closes at 1; the top
    // decile's share is the largest single-decile share
    val shares = rows.sortBy(_.getInt(0)).map(_.getDouble(4))
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b + 1e-12 })
    assert(math.abs(shares.last - 1.0) < 1.1e-6, "cumulative share must close at 1")
    val perShare = rows.sortBy(_.getInt(0)).map(_.getLong(2))
    assert(perShare.head === perShare.max, "top decile must carry the largest mass")
  }

  test("agg_topk_other: true top-10, complement mass, shares total 1") {
    val rev = Tables.orders(spark, sf)
      .selectExpr("o_custkey", "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val top = rev.sortBy { case (c, v) => (-v, c) }.take(10)
    val rows = SparkEntry.queries("agg_topk_other")(spark, sf).collect()
    assert(rows.length === 11)
    val gotTop = rows.filter(_.getString(0) != "OTHER")
      .map(r => (r.getString(0).toLong, r.getLong(2))).sortBy(t => (-t._2, t._1))
    assert(gotTop.toSeq === top.map { case (c, v) => (c, v) }, "top-10 set diverges")
    val other = rows.find(_.getString(0) == "OTHER").get
    assert(other.getLong(1) === rev.length.toLong - 10, "OTHER customer count")
    assert(other.getLong(2) === rev.map(_._2).sum - top.map(_._2).sum, "OTHER mass")
    val shareSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares must total ~1, got $shareSum")
  }

  test("ts_forecast_eval: holdout alignment, exact errors, WAPE closure") {
    val grid = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) DIV 86400000000 AS day")
      .groupBy("day").agg(count(lit(1)).as("cnt"))
      .orderBy("day").collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = SparkEntry.queries("ts_forecast_eval")(spark, sf).collect()
    assert(rows.length === 3)
    // the three scored days are exactly the last three observed days
    val holdout = grid.takeRight(3)
    rows.zip(holdout).foreach { case (r, (day, cnt)) =>
      assert(r.getLong(1) === day && r.getLong(2) === cnt, "holdout misaligned")
      // error column is consistent with its own forecast/actual pair
      assert(r.getLong(4) === math.abs(r.getLong(3) - cnt * 1000000L))
    }
    // forecasts extrapolate linearly: second differences of forecast_u = 0
    val f = rows.map(_.getLong(3))
    assert(f(2) - f(1) === f(1) - f(0), "h-step forecasts must be linear in h")
    // WAPE closes over the emitted rows
    val wape = math.rint(rows.map(_.getLong(4)).sum.toDouble /
      (rows.map(_.getLong(2)).sum * 1000000L).toDouble * 1e6) / 1e6
    rows.foreach(r => assert(math.abs(r.getDouble(5) - wape) < 1.1e-6))
  }

  test("ts_period_over_period: independent monthly recompute with deltas") {
    val raw = Tables.orders(spark, sf)
      .selectExpr("CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) - 1 AS midx",
        "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byM = raw.groupBy(_._1).view
      .mapValues(v => (v.length.toLong, v.map(c => BigInt(c._2)).sum)).toMap
    val rows = SparkEntry.queries("ts_period_over_period")(spark, sf).collect()
    assert(rows.length === byM.size)
    rows.foreach { r =>
      val m = r.getLong(0)
      val (n, sc) = byM(m)
      assert(r.getLong(1) === m / 12 && r.getLong(2) === m % 12 + 1)
      assert(r.getLong(3) === n && BigInt(r.getLong(4)) === sc, s"month $m mass")
      byM.get(m - 1) match {
        case Some((_, prev)) =>
          assert(BigInt(r.getLong(5)) === sc - prev, s"month $m MoM delta")
          val pct = math.rint((sc.toDouble - prev.toDouble) / prev.toDouble * 1e6) / 1e6
          assert(math.abs(r.getDouble(6) - pct) < 1.1e-6, s"month $m MoM pct")
        case None => assert(r.isNullAt(5) && r.isNullAt(6), s"month $m must have null MoM")
      }
      byM.get(m - 12) match {
        case Some((_, yprev)) =>
          val pct = math.rint((sc.toDouble - yprev.toDouble) / yprev.toDouble * 1e6) / 1e6
          assert(math.abs(r.getDouble(7) - pct) < 1.1e-6, s"month $m YoY pct")
        case None => assert(r.isNullAt(7), s"month $m must have null YoY")
      }
    }
  }

  test("dq_mannwhitney: exact 2U recompute; complement identity holds") {
    // same raw extraction + 20-bucket integer grid as the KS recompute
    val raw = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) AS us", "value").collect()
      .map(r => (r.getLong(0) / 86400000000L,
        math.floor(r.getDouble(1) * 100.0 + 0.5).toLong))
    val (minD, maxD) = (raw.map(_._1).min, raw.map(_._1).max)
    val (minC, maxC) = (raw.map(_._2).min, raw.map(_._2).max)
    val mid = minD + (maxD - minD) / 2
    val base = Array.fill(20)(0L)
    val cur = Array.fill(20)(0L)
    raw.foreach { case (day, cents) =>
      val b = (((cents - minC) * 20) / (maxC - minC + 1)).toInt
      if (day <= mid) base(b) += 1 else cur(b) += 1
    }
    val (n1, n2) = (base.sum, cur.sum)
    // doubled midranks over the bucket tie-runs: 2·mr = 2·cstart + t + 1
    def u2Of(a: Array[Long], na: Long): BigInt = {
      var cstart = 0L
      var r2 = BigInt(0)
      (0 until 20).foreach { b =>
        val t = base(b) + cur(b)
        r2 += BigInt(a(b)) * (2 * cstart + t + 1)
        cstart += t
      }
      r2 - BigInt(na) * (na + 1)
    }
    val u2base = u2Of(base, n1)
    val u2cur = u2Of(cur, n2)
    // U1 + U2 = n1·n2 — the Mann–Whitney complement identity
    assert(u2base + u2cur === BigInt(2) * BigInt(n1) * n2, "complement identity")
    val st = (0 until 20).map { b =>
      val t = BigInt(base(b) + cur(b)); t * t * t - t
    }.sum
    val n = n1 + n2
    val varU = (n1.toDouble * n2.toDouble *
      ((n + 1.0) * n * (n - 1.0) - st.toDouble)) / (12.0 * n * (n - 1.0))
    val expZ = math.rint((u2base.toDouble - n1.toDouble * n2.toDouble) /
      (2.0 * math.sqrt(varU)) * 1e6) / 1e6
    val r = SparkEntry.queries("dq_mannwhitney")(spark, sf).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === n1 && r(0).getLong(1) === n2)
    assert(BigInt(r(0).getLong(2)) === u2base, "2U must be exact")
    assert(math.abs(r(0).getDouble(3) - expZ) < 1.1e-6, s"z: ${r(0).getDouble(3)} vs $expZ")
  }

  test("agg_winsorized_mean: independent per-group clamp-and-mean recompute") {
    val raw = Tables.orders(spark, sf)
      .selectExpr("o_orderpriority", "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)",
        "o_orderkey").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val rows = SparkEntry.queries("agg_winsorized_mean")(spark, sf).collect()
    val byGrp = raw.groupBy(_._1)
    assert(rows.length === byGrp.size)
    rows.foreach { r =>
      val grp = r.getString(0)
      val sorted = byGrp(grp).sortBy(t => (t._2, t._3)).map(_._2)
      val n = sorted.length.toLong
      val p05 = sorted((((n - 1) * 1) / 20).toInt)
      val p95 = sorted((((n - 1) * 19) / 20).toInt)
      val clamped = sorted.map(c => math.max(p05, math.min(p95, c)))
      assert(r.getLong(1) === n, s"$grp n_orders")
      assert(math.abs(r.getDouble(2) - p05 * 0.01) < 1e-9, s"$grp p05")
      assert(math.abs(r.getDouble(3) - p95 * 0.01) < 1e-9, s"$grp p95")
      val meanRaw = math.rint(sorted.map(BigInt(_)).sum.toDouble / n / 100.0 * 1e6) / 1e6
      val meanW = math.rint(clamped.map(BigInt(_)).sum.toDouble / n / 100.0 * 1e6) / 1e6
      assert(math.abs(r.getDouble(4) - meanRaw) < 1.1e-6, s"$grp mean_raw")
      assert(math.abs(r.getDouble(5) - meanW) < 1.1e-6, s"$grp mean_winsorized")
      // winsorization can only pull the mean toward the [p05, p95] band
      assert(r.getDouble(5) >= p05 * 0.01 - 1e-9 && r.getDouble(5) <= p95 * 0.01 + 1e-9)
    }
  }

  test("text_lexical_richness: independent per-source recompute") {
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySrc = docs.groupBy(_._1)
    val rows = SparkEntry.queries("text_lexical_richness")(spark, sf).collect()
    assert(rows.length === bySrc.size)
    rows.foreach { r =>
      val src = r.getString(0)
      val toks = bySrc(src).flatMap(_._2.split(" ", -1))
      val cf = toks.groupBy(identity).view.mapValues(_.length).toMap
      assert(r.getLong(1) === bySrc(src).size.toLong, s"$src n_docs")
      assert(r.getLong(2) === toks.length.toLong, s"$src n_tokens")
      assert(r.getLong(3) === cf.size.toLong, s"$src vocab")
      assert(r.getLong(4) === cf.values.count(_ == 1).toLong, s"$src n_hapax")
      val ttr = math.rint(cf.size.toDouble / toks.length.toDouble * 1e6) / 1e6
      assert(math.abs(r.getDouble(5) - ttr) < 1.1e-6, s"$src ttr")
      val hc = math.rint(
        math.log(cf.size.toDouble) / math.log(toks.length.toDouble) * 1e6) / 1e6
      assert(math.abs(r.getDouble(6) - hc) < 1.1e-6, s"$src herdan_c")
    }
  }

  test("text_repetition: independent recompute of both signals and the flag") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val rows = SparkEntry.queries("text_repetition")(spark, sf).collect()
    assert(rows.length === docs.size)
    rows.foreach { r =>
      val toks = docs(r.getLong(0)).split(" ", -1)
      val bg = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toArray
      val tri = toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toArray
      val topCnt = bg.groupBy(identity).values.map(_.length).max
      val dupTri = tri.length - tri.distinct.length
      assert(r.getInt(1) === bg.length, s"doc ${r.getLong(0)} n_bigrams")
      assert(r.getInt(2) === topCnt, s"doc ${r.getLong(0)} top_bigram_cnt")
      assert(r.getInt(4) === tri.length && r.getInt(5) === dupTri)
      assert(math.abs(r.getDouble(3) - math.rint(topCnt.toDouble / bg.length * 1e6) / 1e6) < 1.1e-6)
      assert(math.abs(r.getDouble(6) - math.rint(dupTri.toDouble / tri.length * 1e6) / 1e6) < 1.1e-6)
      assert(r.getBoolean(7) ===
        (topCnt * 100 > bg.length * 18 || dupTri * 100 > tri.length * 18))
    }
  }

  test("ts_changepoint: independent CUSUM recompute; argmax and stat agree") {
    val days = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) DIV 86400000000 AS day").collect()
      .map(_.getLong(0))
    val (minD, maxD) = (days.min, days.max)
    val cnts = days.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val grid = (minD to maxD).map(d => (d, cnts.getOrElse(d, 0L)))
    val n = grid.length.toLong
    val total = grid.map(_._2).sum
    var cum = 0L
    val scored = grid.zipWithIndex.map { case ((d, c), i) =>
      cum += c
      (d, c, i + 1L, cum, n * cum - (i + 1L) * total)
    }
    val (cpDay, cpSnum) = scored.map { case (d, _, _, _, s) => (d, math.abs(s)) }
      .minBy { case (d, s) => (-s, d) }
    val stat = cpSnum.toDouble / (n.toDouble * total.toDouble)
    val rows = SparkEntry.queries("ts_changepoint")(spark, sf).collect()
    assert(rows.length === n)
    rows.zip(scored).foreach { case (r, (d, c, k, cm, s)) =>
      assert(r.getLong(0) === d && r.getLong(1) === c)
      assert(r.getLong(2) === k && r.getLong(3) === cm)
      assert(r.getLong(4) === s, s"day $d cusum")
      assert(r.getLong(5) === cpDay, "changepoint day")
      assert(math.abs(r.getDouble(6) - math.rint(stat * 1e6) / 1e6) < 1.1e-6)
    }
    // the final cumulative deviation closes to zero by construction
    assert(scored.last._5 === 0L)
  }

  test("agg_theil: independent recompute; decomposition identity and bounds hold") {
    val rows0 = Tables.orders(spark, sf).join(Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .selectExpr("c_nationkey", "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val byNk = rows0.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = rows0.length.toDouble
    val st = rows0.map(t => BigInt(t._2)).sum.toDouble
    val mu = st / n
    def r3(x: Double): Double = math.floor(x * 1e3 + 0.5) / 1e3
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val got = SparkEntry.queries("agg_theil")(spark, sf).collect()
    assert(got.map(_.getInt(0)).toSet === byNk.keySet)
    var tb = 0.0; var sumWithin = 0.0; var shareSum = 0.0
    got.sortBy(_.getInt(0)).foreach { r =>
      val xs = byNk(r.getInt(0))
      val ng = xs.length.toDouble
      val sg = xs.map(BigInt(_)).sum.toDouble
      val mug = sg / ng
      val tW = xs.map(x => (x.toDouble / mug) * math.log(x.toDouble / mug)).sum / ng
      val share = sg / st
      assert(r.getLong(1) === xs.length.toLong)
      assert(math.abs(r.getDouble(2) - r6(share)) < 1.1e-6, "share")
      assert(math.abs(r.getDouble(4) - tW) < 6e-4, s"nation ${r.getInt(0)} t_within")
      assert(r.getDouble(4) >= -5e-4, "Theil within is nonnegative (Jensen)")
      tb += share * math.log(mug / mu); sumWithin += share * tW; shareSum += share
    }
    assert(math.abs(shareSum - 1.0) < 1e-9, "shares close")
    assert(math.abs(got.head.getDouble(5) - tb) < 6e-4, "t_between")
    // the decomposition identity: the emitted total IS between + Σ s·T_g
    val tDirect = rows0.map { case (_, x) =>
      (x.toDouble / mu) * math.log(x.toDouble / mu) }.sum / n
    assert(math.abs(got.head.getDouble(6) - tDirect) < 2e-3,
      "T_total must equal the direct ungrouped Theil (decomposition identity)")
  }

  test("text_ngram_novelty: independent first-introducer recompute; first doc scores 1") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    def tris(tk: Seq[String]): Seq[String] =
      if (tk.length < 3) Seq.empty else tk.sliding(3).map(_.mkString(" ")).toSeq
    val intro = docs.flatMap { case (id, tk) => tris(tk).map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val got = SparkEntry.queries("text_ngram_novelty")(spark, sf).collect()
    assert(got.length === docs.length, "doc-grain emission is total")
    val exp = docs.map { case (id, tk) =>
      val ts = tris(tk)
      id -> (ts.length.toLong, ts.count(t => intro(t) == id).toLong)
    }.toMap
    got.foreach { r =>
      val (nt, nv) = exp(r.getLong(0))
      assert(r.getLong(1) === nt && r.getLong(2) === nv, s"doc ${r.getLong(0)}")
      val share = if (nt == 0) 0.0 else nv.toDouble / nt.toDouble
      assert(r.getDouble(3) === r6(share))
    }
    // the earliest doc with any trigram introduces everything it has
    val firstDoc = docs.filter(d => tris(d._2).nonEmpty).map(_._1).min
    assert(exp(firstDoc)._1 === exp(firstDoc)._2, "first doc is fully novel")
  }

  test("text_dedup_bag: planted reorder merges under bagKey; census reconciles") {
    import spark.implicits._
    // planted: a reorder pair, an exact dup pair, and a distinct doc —
    // bagKey merges the reorder, contentHash does not
    val planted = Seq("alpha beta gamma", "gamma beta alpha",
      "same text here", "same text here", "other words").toDF("text")
      .select(graft.queries.TextQueries.contentHash(col("text")).as("eh"),
        graft.queries.TextQueries.bagKey(col("text")).as("bh"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(planted.map(_._1).distinct.length === 4, "exact keys: reorder stays split")
    assert(planted.map(_._2).distinct.length === 3, "bag keys: reorder merges")
    assert(planted(0)._2 === planted(1)._2)
    assert(planted(0)._1 !== planted(1)._1)
    // fixture census reconciles with an independent MessageDigest recompute
    def sha(s0: String): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val norm = (t: String) => t.toLowerCase.replaceAll("[^a-z0-9 ]", "")
    val exp = docs.groupBy(_._1).view.mapValues { g =>
      val ehs = g.map(t => sha(norm(t._2)))
      val bhs = g.map(t => sha(norm(t._2).split(" ", -1).sorted.mkString(" ")))
      (g.length.toLong, ehs.distinct.length.toLong, bhs.distinct.length.toLong)
    }.toMap
    val got = SparkEntry.queries("text_dedup_bag")(spark, sf).collect()
    assert(got.map(_.getString(0)).toSet === exp.keySet)
    got.foreach { r =>
      val (n, eu, bu) = exp(r.getString(0))
      assert(r.getLong(1) === n && r.getLong(2) === eu && r.getLong(3) === bu,
        s"${r.getString(0)} counts")
      assert(r.getLong(4) === n - eu && r.getLong(5) === eu - bu)
      // structural: bag groups coarsen exact groups
      assert(bu <= eu && eu <= n)
    }
  }

  test("ts_esd_outliers: independent peel recompute; rounds remove distinct days") {
    // independent argmax spelling: maxBy on (absdev, -day), not the
    // query's minBy on (-absdev, day)
    val days = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) DIV 86400000000 AS day").collect()
      .map(_.getLong(0))
    val (minD, maxD) = (days.min, days.max)
    val cm = days.groupBy(identity).view.mapValues(_.length.toLong).toMap
    var rem = (minD to maxD).map(d => (d, cm.getOrElse(d, 0L))).toVector
    val rows = SparkEntry.queries("ts_esd_outliers")(spark, sf).collect()
    assert(rows.length === 3)
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    for (k <- 0 until 3) {
      val n = rem.length
      val s1 = rem.map(t => BigInt(t._2)).sum
      val s2 = rem.map(t => BigInt(t._2) * BigInt(t._2)).sum
      val mean = s1.toDouble / n.toDouble
      val sd = math.sqrt(
        (s2.toDouble - s1.toDouble * s1.toDouble / n.toDouble) / (n.toDouble - 1.0))
      val pick = rem.maxBy { case (dd, c) => (math.abs(c.toDouble - mean), -dd) }
      val r = rows(k)
      assert(r.getInt(0) === k + 1 && r.getLong(1) === pick._1 &&
        r.getLong(2) === pick._2 && r.getLong(3) === n.toLong, s"round ${k + 1}")
      val rstat = if (sd == 0.0) 0.0 else math.abs(pick._2.toDouble - mean) / sd
      assert(r.getDouble(4) === r6(rstat), s"round ${k + 1} R")
      assert(rstat >= 0.0)
      rem = rem.filterNot(_._1 == pick._1)
    }
    // three DISTINCT days peeled, n_remaining strictly decreasing by 1
    assert(rows.map(_.getLong(1)).distinct.length === 3)
    assert(rows.map(_.getLong(3)).toSeq === Seq(rows(0).getLong(3),
      rows(0).getLong(3) - 1, rows(0).getLong(3) - 2))
  }

  test("ts_mk_trend: independent recompute; S, ties, variance and z agree") {
    // independent spelling (the LTTB lesson): S via an explicit O(n²)
    // pair loop with Integer.compare, not the query's sign CASE
    val raw = Tables.events(spark, sf)
      .selectExpr("event_type", "unix_micros(ts) DIV 86400000000 AS day").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val (minD, maxD) = (raw.map(_._2).min, raw.map(_._2).max)
    val rows = SparkEntry.queries("ts_mk_trend")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet === raw.map(_._1).toSet)
    rows.foreach { r =>
      val et = r.getString(0)
      val cm = raw.filter(_._1 == et).groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val ys = (minD to maxD).map(d => cm.getOrElse(d, 0L))
      val n = ys.length.toLong
      var sref = 0L
      for (i <- ys.indices; j <- 0 until i)
        sref += java.lang.Long.compare(ys(i), ys(j))
      val tie = ys.groupBy(identity).values
        .map(g => { val t = g.length.toLong; t * (t - 1) * (2 * t + 5) }).sum
      val vn = n * (n - 1) * (2 * n + 5) - tie
      assert(r.getLong(1) === n, s"$et n_days")
      assert(r.getLong(2) === sref, s"$et S")
      assert(r.getLong(3) === vn, s"$et vn")
      assert(math.abs(sref) <= n * (n - 1) / 2, "S bound")
      val z = if (vn <= 0 || sref == 0) 0.0
        else (sref - (if (sref > 0) 1L else -1L)).toDouble / math.sqrt(vn.toDouble / 18.0)
      assert(math.abs(r.getDouble(4) - math.rint(z * 1e6) / 1e6) < 1.1e-6, s"$et z")
      val lbl = if (z > 1.96) "increasing" else if (z < -1.96) "decreasing" else "none"
      assert(r.getString(5) === lbl, s"$et trend")
    }
  }

  test("ts_theil_sen: median slope equals a sort-based recompute") {
    // independent spelling: enumerate every pair slope as a DOUBLE, sort,
    // take the element at position (P+1)/2 — not the query's
    // cross-multiplied less/eq counting (same value by the order-statistic
    // definition; equal rationals divide to the same double).
    val raw = Tables.events(spark, sf)
      .selectExpr("event_type", "unix_micros(ts) DIV 86400000000 AS day").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val (minD, maxD) = (raw.map(_._2).min, raw.map(_._2).max)
    val rows = SparkEntry.queries("ts_theil_sen")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet === raw.map(_._1).toSet)
    rows.foreach { r =>
      val et = r.getString(0)
      val cm = raw.filter(_._1 == et).groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val ys = (minD to maxD).map(d => cm.getOrElse(d, 0L))
      val slopes = (for {
        i <- ys.indices; j <- (i + 1) until ys.length
      } yield (ys(j) - ys(i)).toDouble / (j - i).toDouble).sorted
      val p = slopes.length
      assert(r.getLong(1) === p.toLong, s"$et n_pairs")
      val med = slopes(((p + 1) / 2) - 1)
      assert(math.abs(r.getDouble(2) - math.rint(med * 1e6) / 1e6) < 1.1e-6, s"$et slope")
    }
  }

  test("agg_hhi: bounds and reciprocal identity hold per nation") {
    // HHI ∈ [1/n, 1] for n contributors; effective_n ∈ [1, n]; and
    // eff_n · hhi = 1 up to the two independent r6 roundings.
    val rows = SparkEntry.queries("agg_hhi")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1); val hhi = r.getDouble(2); val effN = r.getDouble(3)
      assert(hhi >= 1.0 / n - 1e-6 && hhi <= 1.0 + 1e-6, s"hhi bounds n=$n hhi=$hhi")
      assert(effN >= 1.0 - 1e-6 && effN <= n + 1e-6, s"effN bounds n=$n effN=$effN")
      assert(math.abs(hhi * effN - 1.0) < 1e-4, s"reciprocal identity hhi=$hhi effN=$effN")
    }
  }

  test("dq_ks_drift: independent recompute; CDF gaps and max agree exactly") {
    val raw = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) AS us", "value").collect()
      .map(r => (r.getLong(0) / 86400000000L,
        math.floor(r.getDouble(1) * 100.0 + 0.5).toLong))
    val (minD, maxD) = (raw.map(_._1).min, raw.map(_._1).max)
    val (minC, maxC) = (raw.map(_._2).min, raw.map(_._2).max)
    val mid = minD + (maxD - minD) / 2
    val base = Array.fill(20)(0L)
    val cur = Array.fill(20)(0L)
    raw.foreach { case (day, cents) =>
      val b = (((cents - minC) * 20) / (maxC - minC + 1)).toInt
      if (day <= mid) base(b) += 1 else cur(b) += 1
    }
    val (nb, nc) = (base.sum, cur.sum)
    val cumB = base.scanLeft(0L)(_ + _).tail
    val cumC = cur.scanLeft(0L)(_ + _).tail
    val dnums = (0 until 20).map(b => math.abs(cumB(b) * nc - cumC(b) * nb))
    val ks = dnums.max.toDouble / (nb.toDouble * nc.toDouble)
    val rows = SparkEntry.queries("dq_ks_drift")(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val (b, cb, cc, gap, ksGot) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(cb === cumB(b), s"bucket $b cumulative baseline")
      assert(cc === cumC(b), s"bucket $b cumulative current")
      val refGap = dnums(b).toDouble / (nb.toDouble * nc.toDouble)
      assert(math.abs(gap - refGap) < 1.1e-6, s"bucket $b gap: $gap vs $refGap")
      assert(math.abs(ksGot - ks) < 1.1e-6, s"ks: $ksGot vs $ks")
      assert(gap <= ksGot + 1.1e-6, "a gap exceeded the reported max")
    }
    // the last bucket closes both CDFs
    val last = rows.maxBy(_.getInt(0))
    assert(last.getLong(1) === nb && last.getLong(2) === nc)
  }

  test("dq_emd_drift: independent recompute; EMD = sum of the KS gaps, >= ks") {
    // same in-memory cohort/bucket recompute as the ks test, summed
    val raw = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) AS us", "value").collect()
      .map(r => (r.getLong(0) / 86400000000L,
        math.floor(r.getDouble(1) * 100.0 + 0.5).toLong))
    val (minD, maxD) = (raw.map(_._1).min, raw.map(_._1).max)
    val (minC, maxC) = (raw.map(_._2).min, raw.map(_._2).max)
    val mid = minD + (maxD - minD) / 2
    val base = Array.fill(20)(0L)
    val cur = Array.fill(20)(0L)
    raw.foreach { case (day, cents) =>
      val b = (((cents - minC) * 20) / (maxC - minC + 1)).toInt
      if (day <= mid) base(b) += 1 else cur(b) += 1
    }
    val (nb, nc) = (base.sum, cur.sum)
    val cumB = base.scanLeft(0L)(_ + _).tail
    val cumC = cur.scanLeft(0L)(_ + _).tail
    val dnums = (0 until 20).map(b => math.abs(cumB(b) * nc - cumC(b) * nb))
    val emd = dnums.sum.toDouble / (nb.toDouble * nc.toDouble)
    val rows = SparkEntry.queries("dq_emd_drift")(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val (b, cb, cc, gap, emdGot) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(cb === cumB(b), s"bucket $b cumulative baseline")
      assert(cc === cumC(b), s"bucket $b cumulative current")
      val refGap = dnums(b).toDouble / (nb.toDouble * nc.toDouble)
      assert(math.abs(gap - refGap) < 1.1e-6, s"bucket $b gap: $gap vs $refGap")
      assert(math.abs(emdGot - emd) < 1.1e-6, s"emd: $emdGot vs $emd")
    }
    // W1 dominates the sup gap: emd >= ks on the same grid
    val ks = dnums.max.toDouble / (nb.toDouble * nc.toDouble)
    assert(emd >= ks - 1e-12, "emd must dominate the KS statistic")
    // and the last bucket's gap is zero (both CDFs close)
    assert(dnums.last === 0L)
  }

  test("ts_decompose: additive identity holds and per-slot residual means vanish") {
    val rows = SparkEntry.queries("ts_decompose")(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (et, hod, cnt, trend, seasonal, resid) =>
      // cnt = trend + seasonal + resid exactly pre-rounding; three r6
      // emissions allow 1.5e-6 of slack
      assert(math.abs(cnt.toDouble - (trend + seasonal + resid)) < 2e-6,
        s"identity broken at ($et, $hod)")
    }
    // seasonal absorbs the hour-of-day mean: residuals average to zero
    // per (event_type, hod) by construction
    rows.groupBy { case (et, hod, _, _, _, _) => (et, hod) }.foreach {
      case (slot, rs) =>
        val mean = rs.map(_._6).sum / rs.length
        assert(math.abs(mean) < 1e-4, s"resid mean nonzero at $slot: $mean")
    }
  }

  test("dq_chi2_drift: independent contingency recompute; terms and total agree") {
    val raw = Tables.events(spark, sf)
      .selectExpr("event_type", "unix_micros(ts) DIV 86400000000 AS day").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val (minD, maxD) = (raw.map(_._2).min, raw.map(_._2).max)
    val mid = minD + (maxD - minD) / 2
    val obs = raw.groupBy { case (et, day) => (et, if (day <= mid) 0 else 1) }
      .view.mapValues(_.length.toLong).toMap
    val types = raw.map(_._1).distinct.sorted
    val cells = for (et <- types; c <- 0 to 1) yield ((et, c), obs.getOrElse((et, c), 0L))
    val rt = cells.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val ct = cells.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
    val nn = cells.map(_._2).sum
    def term(et: String, c: Int): Double = {
      val dnum = BigInt(obs.getOrElse((et, c), 0L)) * nn - BigInt(rt(et)) * ct(c)
      (dnum * dnum).toDouble / (nn.toDouble * rt(et).toDouble * ct(c).toDouble)
    }
    val chi2 = cells.map { case ((et, c), _) => term(et, c) }.sum
    val rows = SparkEntry.queries("dq_chi2_drift")(spark, sf).collect()
    assert(rows.length === types.length * 2)
    rows.foreach { r =>
      val (et, c, o) = (r.getString(0), r.getInt(1), r.getLong(2))
      assert(o === obs.getOrElse((et, c), 0L), s"obs at ($et, $c)")
      val exp = rt(et).toDouble * ct(c).toDouble / nn.toDouble
      assert(math.abs(r.getDouble(3) - exp) < 1e-4, s"expected at ($et, $c)")
      assert(math.abs(r.getDouble(4) - term(et, c)) < 1e-4, s"term at ($et, $c)")
      assert(math.abs(r.getDouble(5) - chi2) < 1e-3, s"chi2 total")
      assert(r.getInt(6) === types.length - 1, "df")
    }
  }

  test("dq_cohort_ttest: independent Welch recompute from exact moments") {
    val raw = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) DIV 86400000000 AS day",
        "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (minD, maxD) = (raw.map(_._1).min, raw.map(_._1).max)
    val mid = minD + (maxD - minD) / 2
    def moments(coh: Array[Long]): (Double, Double, Double) = {
      val n = coh.length.toDouble
      val s1 = coh.map(BigInt(_)).sum.toDouble
      val s2 = coh.map(c => BigInt(c) * BigInt(c)).sum.toDouble
      (n, s1 / n, (n * s2 - s1 * s1) / (n * (n - 1.0)))
    }
    val (nb, mb, vb) = moments(raw.filter(_._1 <= mid).map(_._2))
    val (nc, mc, vc) = moments(raw.filter(_._1 > mid).map(_._2))
    val t = (mb - mc) / math.sqrt(vb / nb + vc / nc)
    val se = vb / nb + vc / nc
    val df = (se * se) /
      ((vb / nb) * (vb / nb) / (nb - 1.0) + (vc / nc) * (vc / nc) / (nc - 1.0))
    val r = SparkEntry.queries("dq_cohort_ttest")(spark, sf).head()
    assert(r.getLong(0) === nb.toLong && r.getLong(1) === nc.toLong)
    assert(math.abs(r.getDouble(2) - mb) < 1e-4 && math.abs(r.getDouble(3) - mc) < 1e-4)
    assert(math.abs(r.getDouble(6) - t) < 1e-4, s"t: ${r.getDouble(6)} vs $t")
    assert(math.abs(r.getDouble(7) - df) < 1e-2, s"df: ${r.getDouble(7)} vs $df")
    // a sane Welch df lies between min(n)-1 and n_base+n_cur-2
    assert(r.getDouble(7) >= math.min(nb, nc) - 1.0 - 1e-6 &&
      r.getDouble(7) <= nb + nc - 2.0 + 1e-6)
  }

  test("win_streaks: exact scala recompute of runs, argmax, and counts") {
    val days = Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts) DIV 86400000000 AS day")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = SparkEntry.queries("win_streaks")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ref = days.groupBy(_._1).map { case (u, ds) =>
      val sorted = ds.map(_._2).distinct.sorted
      val runs = sorted.foldLeft(List.empty[(Long, Long)]) { // (start, len)
        case ((s0, l) :: t, d) if d == s0 + l => (s0, l + 1) :: t
        case (acc, d) => (d, 1L) :: acc
      }
      val best = runs.maxBy { case (s0, l) => (l, -s0) }
      u -> (best._2, best._1, runs.length.toLong)
    }
    assert(got === ref, "streak structure diverges from the reference fold")
    assert(got.values.exists(_._1 > 1L), "fixture must contain a multi-day streak")
  }

  test("agg_bitmap_distinct equals countDistinct exactly (bitmap rollup is lossless)") {
    val got = SparkEntry.queries("agg_bitmap_distinct")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val exact = Tables.orders(spark, sf)
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("nd")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === exact, "bitmap popcount sum must equal exact distinct")
  }

  test("join_asof_union agrees with a band-join recompute (the other asof algorithm)") {
    // the union-merge asof (one sort per key) must produce exactly what
    // the join_range-style band join produces: per purchase, the latest
    // view by the same user in [pts - 30 min, pts], ties to max event_id
    val ev = Tables.events(spark, sf).select("user_id", "event_type", "ts", "event_id")
    val views = ev.where(col("event_type") === "view").collect()
      .map(r => (r.getLong(0), r.getTimestamp(2), r.getLong(3)))
    val got = SparkEntry.queries("join_asof_union")(spark, sf).collect()
      .map { r =>
        val vid = if (r.isNullAt(3)) None else Some(r.getLong(3))
        (r.getLong(0), r.getLong(1), r.getTimestamp(2), vid)
      }
    assert(got.nonEmpty && got.exists(_._4.isDefined) && got.exists(_._4.isEmpty),
      "fixture must exercise both matched and unmatched purchases")
    // µs-grain comparisons (getTime is millis-only — Streams.toUs rule)
    val us = (t: java.sql.Timestamp) => graft.streaming.Streams.toUs(t)
    val byUser = views.groupBy(_._1)
    got.foreach { case (pid, uid, pts, vid) =>
      val cands = byUser.getOrElse(uid, Array.empty)
        .filter(v => us(v._2) <= us(pts) && us(pts) - us(v._2) <= 1800000000L)
      val ref = if (cands.isEmpty) None
        else Some(cands.maxBy(v => (us(v._2), v._3))._3)
      assert(vid === ref, s"purchase $pid (user $uid): $vid vs $ref")
    }
  }

  test("ts_rolling_median: exact scala recompute; median is a window member") {
    val rows = SparkEntry.queries("ts_rolling_median")(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { g =>
      val ordered = g.sortBy(_._2.getTime)
      val cnts = ordered.map(_._3)
      ordered.zipWithIndex.foreach { case ((et, h, _, wn, med), i) =>
        val win = cnts.slice(math.max(0, i - 23), i + 1)
        assert(wn === win.length, s"window size at ($et, $h)")
        val ref = win.sorted.apply((win.length - 1) / 2)
        assert(med === ref, s"median at ($et, $h): $med vs $ref")
        assert(win.contains(med), "discrete median must be a window member")
      }
    }
  }

  test("winnowing guarantee: shared run >= w+2 tokens yields a shared fingerprint") {
    import spark.implicits._
    import graft.queries.Text2Queries
    // Schleimer et al. §2: with trigram shingles and window w, any shared
    // token run of length >= w + 2 contains a full shingle window in both
    // docs, whose min hash both docs must select. Plant a 10-token run
    // inside two otherwise vocabulary-disjoint docs; a third doc shares
    // nothing and must intersect nothing.
    val run = (0 until 10).map(i => s"run$i").mkString(" ")
    val docs = Seq(
      (1L, s"aa0 aa1 aa2 aa3 $run aa4 aa5 aa6"),
      (2L, s"bb0 bb1 $run bb2 bb3 bb4 bb5 bb6 bb7"),
      (3L, "cc0 cc1 cc2 cc3 cc4 cc5 cc6 cc7 cc8 cc9 cc10 cc11"))
      .toDF("doc_id", "text")
    val fps = docs
      .select(col("doc_id"),
        Text2Queries.winnowHs(split(col("text"), " ")).as("hs"))
      .select(col("doc_id"), Text2Queries.winnowSelect(col("hs")).as("fps"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty,
      "planted 10-token run must yield a shared fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty,
      "vocabulary-disjoint docs must share no fingerprint")
    // every selected fingerprint is one of the doc's own shingle hashes
    val hsets = docs
      .select(col("doc_id"),
        Text2Queries.winnowHs(split(col("text"), " ")).as("hs"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    fps.foreach { case (id, f) => assert(f.subsetOf(hsets(id))) }
  }

  test("text_shared_span: planted runs report their EXACT token length") {
    import spark.implicits._
    import graft.queries.Text2Queries
    // docs 1 and 2 share a 12-token run AND a disjoint 7-token run;
    // doc 3 is vocabulary-disjoint. Expect ONE pair row (1,2) with
    // span_tokens exactly 12, the 7-token run visible as a second
    // island (runs of 10 and 5 trigrams), and nothing touching doc 3.
    val long = (0 until 12).map(i => s"run$i").mkString(" ")
    val short = (0 until 7).map(i => s"sec$i").mkString(" ")
    val docs = Seq(
      (1L, "w", s"aa0 aa1 aa2 $long aa3 aa4 $short aa5"),
      (2L, "w", s"bb0 $short bb1 bb2 bb3 $long bb4"),
      (3L, "w", "cc0 cc1 cc2 cc3 cc4 cc5 cc6 cc7 cc8 cc9 cc10 cc11"))
      .toDF("doc_id", "source", "text")
    val rows = Text2Queries.sharedSpans(docs).collect()
    assert(rows.length === 1, s"expected exactly the (1,2) pair, got ${rows.length}")
    val r = rows.head
    assert(r.getLong(0) === 1L && r.getLong(1) === 2L)
    assert(r.getLong(2) === 12L, s"span_tokens must be EXACTLY 12, got ${r.getLong(2)}")
    assert(r.getLong(3) === 10L, "longest run must be 10 trigrams")
    assert(r.getLong(4) === 2L, s"expected 2 maximal runs, got ${r.getLong(4)}")
    assert(r.getLong(5) === 15L, "total matched trigram positions must be 10 + 5")
  }

  test("text_bpe_merges: known corpus yields the exact BPE merge order") {
    import spark.implicits._
    import graft.queries.Text2Queries
    // the classic BPE toy dictionary: low x5, lower x2, widest x3, plus
    // aaa (in-token pair multiplicity: 'aa' occurs twice in one word)
    val docs = Seq(
      (1L, "low low low lower widest"),
      (2L, "low low lower widest widest"),
      (3L, "aaa")).toDF("doc_id", "text")
    val got = Text2Queries.bpeMergeRound(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val expected = Seq(
      (1, "lo", 7L), (2, "ow", 7L),               // tie broken pair-ASC
      (3, "de", 3L), (4, "es", 3L), (5, "id", 3L),
      (6, "st", 3L), (7, "wi", 3L),
      (8, "aa", 2L),                               // multiplicity counted
      (9, "er", 2L), (10, "we", 2L))
    assert(got.toSeq === expected)
  }

  test("embed_quantize_int8: codes in int8 range, mse under the half-step bound") {
    // half-up quantization guarantees |v - c*s| <= s/2 per dim, so
    // mse <= s^2/4; both sides here are round-6 emissions, so allow one
    // rounding step of slack. Codes must fit the symmetric int8 range.
    val rows = SparkEntry.queries("embed_quantize_int8")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (scale, cmin, cmax, mse) =
        (r.getDouble(2), r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(cmin >= -127L && cmax <= 127L, s"codes out of int8 range: $cmin..$cmax")
      assert(scale > 0.0, "scale must be positive")
      assert(mse <= scale * scale / 4.0 + 1.1e-6,
        s"mse $mse exceeds the half-step bound ${scale * scale / 4.0}")
    }
  }

  test("cdc chunking: an insertion only perturbs chunks before the next cut") {
    import spark.implicits._
    // a long pseudo-random token stream through the ENGINE's chunker
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val baseToks = Vector.fill(400)(vocab(rnd.nextInt(vocab.size)))
    val edited = (baseToks.take(5) :+ "INSERTED") ++ baseToks.drop(5)
    def chunksOf(id: Long, toks: Vector[String]) =
      queries.Text2Queries.cdcChunks(
        Seq((id, toks.mkString(" "))).toDF("doc_id", "text"))
        .select("chunk").as[String].collect().toVector
    val c1 = chunksOf(1L, baseToks)
    val c2 = chunksOf(2L, edited)
    // reassembly invariant: chunks partition the token stream
    assert(c1.flatMap(_.split(" ")) === baseToks, "chunks must reassemble the doc")
    assert(c2.flatMap(_.split(" ")) === edited)
    // locality: the suffix chunk sequences coincide after the edit region
    // (boundaries resynchronize at the next content-defined cut)
    val common = c1.reverse.zip(c2.reverse).takeWhile { case (a, b) => a == b }.length
    assert(common >= c1.length - 3,
      s"insertion must not reflow downstream chunks: only $common of ${c1.length} " +
        "suffix chunks survived")
    assert(c1.length >= 10, "the stream must actually chunk (expected ~16-token cuts)")
  }

  test("r6/r6Sql display rounding: NaN, ±Inf and huge finites pass through on BOTH engine paths") {
    // The r7 guarded spelling exists because Spark's floor(double)
    // returns BIGINT ((long)NaN = 0, and anything past
    // Long.MaxValue/1e6 ~ 9.22e12 SATURATES at Long.MaxValue) while
    // DuckDB's floor keeps doubles — the old ROUND built-in passed all
    // of these through identically. Pin the Column helper AND the SQL
    // spelling on the specials + a huge finite + a normal value + NULL.
    import org.apache.spark.sql.Row
    val df = spark.sql(
      "SELECT CAST('NaN' AS DOUBLE) AS nan, CAST('Infinity' AS DOUBLE) AS pinf, " +
        "CAST('-Infinity' AS DOUBLE) AS ninf, CAST(1.2345678 AS DOUBLE) AS x, " +
        "CAST(NULL AS DOUBLE) AS nul, CAST(1.25e13 AS DOUBLE) AS huge")
    val viaCol = df.select(
      Qutil.r6(col("nan")).as("a"), Qutil.r6(col("pinf")).as("b"),
      Qutil.r6(col("ninf")).as("c"), Qutil.r6(col("x")).as("d"),
      Qutil.r6(col("nul")).as("e"), Qutil.r6(col("huge")).as("f")).head()
    val viaSql = df.selectExpr(
      s"${Qutil.r6Sql("nan")} AS a", s"${Qutil.r6Sql("pinf")} AS b",
      s"${Qutil.r6Sql("ninf")} AS c", s"${Qutil.r6Sql("x")} AS d",
      s"${Qutil.r6Sql("nul")} AS e", s"${Qutil.r6Sql("huge")} AS f").head()
    for (r <- Seq(viaCol, viaSql)) {
      assert(r.getDouble(0).isNaN, "NaN must survive rounding")
      assert(r.getDouble(1).isPosInfinity, "+Inf must survive rounding")
      assert(r.getDouble(2).isNegInfinity, "-Inf must survive rounding")
      assert(r.getDouble(3) === 1.234568, "normal values round half-up to 6")
      assert(r.isNullAt(4), "NULL must stay NULL")
      assert(r.getDouble(5) === 1.25e13,
        "a finite value past the BIGINT saturation point must pass through raw")
    }
  }

  test("text_bpe_train: classic corpus yields the known 3-round merge order") {
    import spark.implicits._
    import graft.queries.Text2Queries
    // same toy dictionary as the text_bpe_merges test: low x5, lower x2,
    // widest x3, aaa. Hand-derived chain: round 1 winner (l,o) cnt 7
    // (tie with (o,w) broken pair-ASC), round 2 winner (lo,w) cnt 7,
    // round 3 winner (d,e) cnt 3 (widest's pairs lead once low/lower
    // collapse).
    val docs = Seq(
      (1L, "low low low lower widest"),
      (2L, "low low lower widest widest"),
      (3L, "aaa")).toDF("doc_id", "text")
    val got = Text2Queries.bpeTrain(docs).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getString(4), r.getLong(5)))
    val winners = got.filter(_._2 == 1).toSeq
    assert(winners === Seq(
      (1, 1, "l", "o", "lo", 7L),
      (2, 1, "lo", "w", "low", 7L),
      (3, 1, "d", "e", "de", 3L)))
    // round 2 must count the MERGED symbol's pairs: (lo,w) = 7, and the
    // raw char pairs l-o / o-w must be gone
    val r2 = got.filter(_._1 == 2).map(g => (g._3, g._4) -> g._6).toMap
    assert(!r2.contains(("l", "o")) && !r2.contains(("o", "w")))
    // round 3: low+lower collapsed to [low]/[low,e,r]; (low,e) cnt 2
    val r3 = got.filter(_._1 == 3).map(g => (g._3, g._4) -> g._6).toMap
    assert(r3(("low", "e")) === 2L && r3(("e", "r")) === 2L)
  }

  test("text_bpe_apply: classic corpus encodes through the known merge chain") {
    import spark.implicits._
    import graft.queries.Text2Queries
    // same toy dictionary; after merges (l,o) -> (lo,w) -> (d,e):
    // low = [low], lower = [low, e, r], widest = [w, i, de, s, t],
    // aaa = [a, a, a] (untouched — no winner ever matches it)
    val docs = Seq(
      (1L, "low low low lower widest"),
      (2L, "low low lower widest widest"),
      (3L, "aaa")).toDF("doc_id", "text")
    val got = Text2Queries.bpeApply(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .toMap
    assert(got === Map(
      "low" -> (5L, 3, 1, "low"),
      "lower" -> (2L, 5, 3, "low|e|r"),
      "widest" -> (3L, 6, 5, "w|i|de|s|t"),
      "aaa" -> (1L, 3, 3, "a|a|a")))
    // structural invariants on the real fixture: the encoding is a
    // partition of the word (strip separators == word) and merges only
    // ever shrink
    val fx = Text2Queries.bpeApply(Tables.documents(spark, sf)).collect()
      .map(r => (r.getString(0), r.getInt(2), r.getInt(3), r.getString(4)))
    assert(fx.nonEmpty)
    fx.foreach { case (tok, nc, ns, enc) =>
      assert(enc.replace("|", "") === tok, s"$tok partition")
      assert(ns <= nc && ns >= 1, s"$tok shrink bounds")
    }
    assert(fx.exists(f => f._3 < f._2), "at least one fixture form must compress")
  }

  test("text_bpe_train: a=b merges are greedy left-to-right non-overlapping") {
    import spark.implicits._
    import graft.queries.Text2Queries
    // "aaaa": round 1 pair (a,a) cnt 3 (positions 1-3), greedy merge
    // must yield [aa, aa] (parity rule), so round 2 sees exactly ONE
    // (aa,aa) pair; round 3's dictionary is the single symbol "aaaa"
    // and emits nothing.
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val got = Text2Queries.bpeTrain(docs).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getString(4), r.getLong(5)))
    assert(got.toSeq === Seq(
      (1, 1, "a", "a", "aa", 3L),
      (2, 1, "aa", "aa", "aaaa", 1L)))
  }

  test("text_oov_rate matches an independent vocabulary recompute") {
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val toks = docs.flatMap { case (s, t) => t.split(" ", -1).map(s -> _) }
    val vocab = toks.map(_._2).groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (tok, cf) => (-cf, tok) }.take(25).map(_._1).toSet
    val expected = toks.groupBy(_._1).view.mapValues { g =>
      (g.length.toLong, g.count(p => !vocab.contains(p._2)).toLong)
    }.toMap
    def r6d(v: Double): Double =
      if (v.isNaN || math.abs(v) >= 9e12) v else math.floor(v * 1e6 + 0.5) / 1e6
    val got = SparkEntry.queries("text_oov_rate")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq === expected.keys.toSeq.sorted)
    got.foreach { case (s, nTok, nOov, rate) =>
      assert((nTok, nOov) === expected(s), s"counts for $s")
      assert(rate === r6d(nOov.toDouble / nTok.toDouble), s"rate for $s")
    }
    // the 31-token fixture vocabulary vs a 25-slot vocab: OOV mass must
    // be present but minority (the fixture is near-uniform)
    assert(got.exists(_._3 > 0L) && got.forall(g => g._3 * 2 < g._2))
  }

  test("dq_mutual_info: terms recompose from emitted counts; MI = ordered sum >= 0") {
    val rows = SparkEntry.queries("dq_mutual_info")(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    def r6d(v: Double): Double =
      if (v.isNaN || math.abs(v) >= 9e12) v else math.floor(v * 1e6 + 0.5) / 1e6
    val nn = rows.map(_._3).sum
    // replay the query's exact op order on the emitted counts: ratio in
    // one fixed cast order, ONE ln, (obs/N) * ln — same JVM libm as the
    // executors, so equality is exact after the shared rounding
    val raw = rows.sortBy(r => (r._1, r._2)).map { case (_, _, obs, rt, ct, term, _) =>
      val t = if (obs == 0L) 0.0
        else (obs.toDouble / nn.toDouble) *
          math.log((obs.toDouble * nn.toDouble) / (rt.toDouble * ct.toDouble))
      assert(r6d(t) === term, "per-cell term must recompose from (obs, rt, ct)")
      t
    }
    var mi = 0.0
    raw.foreach(mi += _)
    rows.foreach { case (_, _, _, _, _, _, m) => assert(m === r6d(mi)) }
    assert(mi >= -1e-9, "mutual information is nonnegative")
    // marginals close: each cohort's ct equals the sum of its obs
    rows.groupBy(_._2).foreach { case (_, g) =>
      assert(g.map(_._3).sum === g.head._5)
    }
  }

  test("dq_embed_drift: planted frame matches an independent Scala recompute") {
    import spark.implicits._
    import graft.queries.KmeansQueries
    // 6 vectors, 4 dims; cohort split mn + (mx - mn) DIV 2 = 3, so
    // vec_ids 1-3 are the baseline and 4-6 the current cohort. The two
    // cohorts deliberately sit in different regions so every dim shifts.
    val vecs = Seq(
      (1L, Seq(0.10f, -0.20f, 0.30f, 0.05f)),
      (2L, Seq(0.12f, -0.18f, 0.28f, 0.00f)),
      (3L, Seq(0.08f, -0.22f, 0.33f, -0.05f)),
      (4L, Seq(0.50f, 0.10f, -0.10f, 0.20f)),
      (5L, Seq(0.55f, 0.12f, -0.12f, 0.25f)),
      (6L, Seq(0.45f, 0.08f, -0.08f, 0.15f)))
    val got = KmeansQueries.embedDrift(vecs.toDF("vec_id", "embedding"))
      .collect()
    assert(got.length === 4)
    // independent recompute: exact micro-unit integer sums, then the
    // query's fixed op order ((s/n)/1e6, shift = mc - mb, dim-ascending
    // left fold of shift^2, sqrt, guarded 6-dp rounding)
    def q(x: Float): Long = math.floor(x.toDouble * 1000000.0 + 0.5).toLong
    def r6d(v: Double): Double =
      if (v.isNaN || math.abs(v) >= 9e12) v else math.floor(v * 1e6 + 0.5) / 1e6
    val (base, cur) = vecs.partition(_._1 <= 3L)
    val shifts = (0 until 4).map { i =>
      val sb = base.map(v => q(v._2(i))).sum
      val sc = cur.map(v => q(v._2(i))).sum
      val mb = sb.toDouble / base.size.toDouble / 1000000.0
      val mc = sc.toDouble / cur.size.toDouble / 1000000.0
      (mb, mc, mc - mb)
    }
    var ss = 0.0
    shifts.foreach { case (_, _, sh) => ss += sh * sh }
    val l2 = r6d(math.sqrt(ss))
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(0) === i + 1)
      assert(r.getLong(1) === 3L && r.getLong(2) === 3L)
      assert(r.getDouble(3) === r6d(shifts(i)._1), s"mean_base dim ${i + 1}")
      assert(r.getDouble(4) === r6d(shifts(i)._2), s"mean_cur dim ${i + 1}")
      assert(r.getDouble(5) === r6d(shifts(i)._3), s"mean_shift dim ${i + 1}")
      assert(r.getDouble(6) === l2, s"l2_drift dim ${i + 1}")
    }
  }

  test("dq_referential_integrity: full FKs hold, snapshot backlog is a proper subset") {
    import graft.queries.CdcQueries
    val byName = CdcQueries.queries("dq_referential_integrity")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every full FK holds on the fixtures — orphan count exactly 0
    Seq("customer_nation", "events_customer", "lineitem_orders", "orders_customer")
      .foreach { fk => assert(byName(fk)._2 === 0L, s"$fk orphans") }
    // the snapshot backlog row is NON-trivial: some lineitem rows
    // reference post-cutoff orders (nonzero) but not all of them (the
    // cutoff sits inside the date range) — guards against the cutoff
    // drifting outside the fixture's o_orderdate span
    val (nChild, nOrphan) = byName("lineitem_orders_snapshot")
    assert(nOrphan > 0L, "snapshot backlog must be nonzero")
    assert(nOrphan < nChild, "snapshot backlog must not be the whole table")
    // n_child agrees with the full-FK row (same child table)
    assert(nChild === byName("lineitem_orders")._1)
    assert(byName.size === 5)
  }

  test("text_postings: closure, bounds, and sample membership invariants") {
    import graft.queries.Text2Queries
    val rows = Text2Queries.queries("text_postings")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    // independent token census
    val docs = Tables.documents(spark, sf).selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val cfRef = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val dfRef = docs.flatMap { case (id, tk) => tk.distinct.map(t => (t, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(rows.map(_._3).sum === docs.map(_._2.size.toLong).sum, "cf closes over the corpus")
    rows.foreach { case (term, df, cf, topDocs) =>
      assert(df <= cf, s"$term df <= cf")
      assert(cf === cfRef(term), s"$term cf")
      val postings = dfRef(term)
      assert(df === postings.size.toLong, s"$term df")
      val sample = topDocs.split(",").map(_.toLong).toSeq
      assert(sample === postings.toSeq.sorted.take(5), s"$term sample = 5 smallest postings")
    }
  }

  test("dq_skew_census: independent recompute of the events_user domain") {
    import graft.queries.CdcQueries
    val rows = CdcQueries.queries("dq_skew_census")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(rows.size === 3)
    val cnts = Tables.events(spark, sf).select("user_id").collect()
      .map(_.getLong(0)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nRows = cnts.values.sum
    val nKeys = cnts.size.toLong
    val maxCnt = cnts.values.max
    val hottest = cnts.toSeq.map { case (k, c) => (-c, k) }.min._2
    val (gr, gk, gm, gh, gs) = rows("events_user")
    assert(gr === nRows, "n_rows")
    assert(gk === nKeys, "n_keys")
    assert(gm === maxCnt, "max_cnt")
    assert(gh === hottest, "hottest key (max mass, ties to smaller key)")
    assert(math.abs(gs - maxCnt.toDouble * nKeys / nRows) < 1e-5, "skew ratio")
    // uniform expectation bounds: ratio >= 1 everywhere by construction
    rows.values.foreach { v => assert(v._5 >= 1.0 - 1e-9, "skew ratio >= 1") }
  }

  test("ts_downsample_lttb equals a BigInt reference walk; endpoints pinned") {
    import graft.queries.TemporalQueries
    val dc = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) DIV 86400000000 AS day")
      .groupBy("day").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val mn = dc.map(_._1).min
    val mx = dc.map(_._1).max
    val bk = dc.map { case (day, cnt) => (((day - mn) * 10) / (mx - mn + 1)).toInt -> (day, cnt) }
    val m = bk.groupBy(_._1).view.mapValues { ps =>
      (BigInt(ps.map(_._2._1).sum), BigInt(ps.map(_._2._2).sum), BigInt(ps.size))
    }.toMap
    val expected = (0 to 9).map { b =>
      val pts = bk.filter(_._1 == b).map(_._2)
      val (day, cnt) =
        if (b == 0) pts.minBy(_._1)
        else if (b == 9) pts.maxBy(_._1)
        else {
          val (sxp, syp, np) = m(b - 1)
          val (sxc, syc, nn) = m(b + 1)
          pts.map { case (x, y) =>
            // independent spelling: expanded shoelace 2A·np·nn =
            // |xp(y−yc) + x(yc−yp) + xc(yp−y)| cleared of denominators
            // — deliberately NOT the query's factored form, so a sign
            // flip in lttbAreaExpr (the r9 bug) cannot match here.
            // Argmax is scale-invariant: the query's form is np²·nn·2A,
            // this one np·nn·2A, and np is constant within a bucket.
            val area = (sxp * nn * y - sxp * syc + BigInt(x) * np * syc -
              BigInt(x) * nn * syp + sxc * syp - sxc * np * y).abs
            ((-area, x), (x, y))
          }.minBy(_._1)._2
        }
      (b, day, cnt)
    }
    val got = TemporalQueries.queries("ts_downsample_lttb")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected, "selected points must match the reference walk exactly")
    assert(got.head._2 === mn && got.last._2 === mx, "endpoints pinned to first/last day")
  }

  test("minhash star edges: identical components at linear hot-bucket cost") {
    // r10 (r9 verdict ask #1): plant a 200-doc boilerplate hot bucket —
    // the degenerate LSH cell a 100 TB crawl always contains — plus a
    // second 10-doc clique and a singleton. The all-pairs emission is
    // quadratic in the hot bucket (C(200,2) = 19,900); the star
    // reduction is linear (199) and must yield IDENTICAL components.
    import spark.implicits._
    import graft.queries.TextQueries
    val docs = (
      (1L to 200L).map(i => (i, "s0", "shared boilerplate banner text row")) ++
      (201L to 210L).map(i => (i, "s0", "second smaller clique of near dups")) ++
      Seq((211L, "s0", "a genuinely unique document with its own tokens"))
    ).toDF("doc_id", "source", "text")
    val buckets = TextQueries.minhashBuckets(docs).localCheckpoint(true)
    val pairs = TextQueries.minhashPairsOver(buckets)
    val star = TextQueries.minhashStarEdgesOver(buckets)
    val starEdges = star.collect().map(r => (r.getLong(0), r.getLong(1)))
    // r11: the pair-set def is LANED — this planted 200-doc hot bucket
    // must still emit the exact all-pairs mass (laning is row-identical)
    // AND the plan must actually carry the lane columns
    val pairsPlan = pairs.queryExecution.executedPlan.toString
    assert(pairsPlan.contains("__lx") && pairsPlan.contains("__ly"),
      "minhashPairsOver lost its lane decomposition")
    assert(pairs.count() === 19900L + 45L, "all-pairs emission: C(200,2) + C(10,2)")
    assert(starEdges.length === 199 + 9, "star emission: (|b|-1) per clique")
    assert(starEdges.forall(e => e._1 == 1L || e._1 == 201L),
      "every star edge leaves the bucket's min doc_id")
    val nodes = docs.select(col("doc_id").as("id"))
    def components(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.operators.Scale.connectedComponents(nodes,
          edges.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaPairs = components(pairs)
    val viaStar = components(star)
    assert(viaStar === viaPairs, "star graph must yield identical components")
    assert(viaStar(5L) === 1L && viaStar(205L) === 201L && viaStar(211L) === 211L,
      "two cliques + the singleton resolve to their min ids")
  }

  test("dq_sequence_gaps detectors fire on a planted lossy extract") {
    // r10: the fixture change feed is dense and in-order, so the defect
    // columns read zero there BY MEASUREMENT — the planted frame proves
    // each detector actually fires (the join_anti planted-frame rule):
    // day 1 drops ids 13/17 (gaps) and replays 15 (dup); day 2's range
    // starts below day 1's max (out-of-order extraction).
    import spark.implicits._
    def rows(day: Long, ids: Seq[Long]) = ids.map(i => (i, day * 86400L))
    val planted = (rows(0, 0L to 9L) ++
      rows(1, Seq(10L, 11L, 12L, 14L, 15L, 15L, 16L, 18L, 19L)) ++
      rows(2, 18L to 25L))
      .toDF("event_id", "secs")
      .select(col("event_id"), timestamp_seconds(col("secs")).as("ts"))
    val got = graft.queries.CdcQueries.sequenceGapCensus(planted).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got.length === 3)
    assert(got(0) === ((10L, 10L, 0L, 9L, 0L, 0L, 0L)), "clean day reads clean")
    assert(got(1) === ((9L, 8L, 10L, 19L, 2L, 1L, 0L)), "gaps + replay detected")
    assert(got(2) === ((8L, 8L, 18L, 25L, 0L, 0L, 1L)), "out-of-order range detected")
    val fix = SparkEntry.queries("dq_sequence_gaps")(spark, sf).collect()
    assert(fix.nonEmpty && fix.forall(r =>
      r.getLong(5) == 0L && r.getLong(6) == 0L && r.getLong(7) == 0L),
      "fixture feed must measure dense and ordered")
  }

  test("lanedBucketJoin: row-identical to the plain bucket join; hot bucket spreads over lane cells") {
    // r10 (r9 verdict ask #2): the guard for RE-CHECKED pair generators
    // (embedBandPairs, dq_embed_contamination, text_dedup_incremental)
    // where the output really is B²/2 pairs and only the per-TASK hot
    // spot can be bounded. Plant a 160-row hot bucket + an 8-row bucket
    // + a singleton; the laned join must emit exactly the plain join's
    // rows, each pair exactly once, with the hot bucket's pairs spread
    // across the 8×8 lane cells (each cell = one join key = one task).
    import spark.implicits._
    import graft.operators.Scale
    val rows = (1L to 160L).map(i => (i, "b0")) ++
      (200L to 207L).map(i => (i, "b1")) ++ Seq((300L, "b2"))
    val df = rows.toDF("id", "bk")
    val plain = df.as("x").join(df.as("y"),
        col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.size === 160 * 159 / 2 + 8 * 7 / 2, "planted pair mass")
    import org.apache.spark.sql.graft.CacheProbe
    val cachedBefore = CacheProbe.entries(spark)
    val got = Scale.lanedBucketJoin(df, df, Seq("bk"), "id", "id", 8)
      .where(col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(CacheProbe.entries(spark) === cachedBefore,
      "the hot set must not stay cached: nothing would ever release it")
    assert(got.length === got.toSet.size,
      "a pair meets in exactly ONE lane cell — no double emission")
    assert(got.toSet === plain, "laned join must be row-identical to the plain join")
    // per-task bound: one join-key cell = (bk, lane(a), lane(b)),
    // recomputed with the SHARED laneCol definition
    val laneOf = df.select(col("id"), Scale.laneCol(col("id"), 8).as("ln"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val hotCells = got.filter(_._1 <= 160L)
      .groupBy(p => (laneOf(p._1), laneOf(p._2))).view.mapValues(_.length)
    val hotTotal = 160 * 159 / 2
    assert(hotCells.size > 56, "the 8×8 cell grid is actually populated")
    assert(hotCells.values.max <= hotTotal / 8,
      s"no cell owns the bucket: max ${hotCells.values.max} of $hotTotal pairs")
    // r15 threshold laning (guide §2.5, hot keys only): the sub-hotMin
    // 8-row bucket must NOT replicate — all its pairs meet in the single
    // cold cell (0, 0); the 160-row bucket (>= hotMin 65) stays laned.
    val cells = Scale.lanedBucketJoin(df, df, Seq("bk"), "id", "id", 8)
      .where(col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("x.__lx"), col("x.__ly"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(cells.filter(_._1 >= 200L).forall(c => c._2 == 0 && c._3 == 0),
      "cold bucket pairs all meet in lane cell (0,0) — no replication")
    assert(cells.filter(_._1 <= 160L).map(c => (c._2, c._3)).distinct.length > 8,
      "hot bucket still decomposes across lane cells")
  }

  test("lanedBucketJoin: hot-set cap falls back to UNIFORM laning, row-identical (r16)") {
    // r16 (r15 verdict "What's wrong" #2): with more hot buckets than
    // graft.lanedJoin.hotCap, the guarded path must NOT build the hot-set
    // broadcast — it falls back to the pre-r15 uniform laning, which is
    // graceful (lanes-fold replication) instead of fatal (driver OOM).
    // Output stays row-identical on every path: plant many hot buckets
    // plus one cold bucket, cap below the hot count, and require exactly
    // the plain join's pairs — with even the COLD bucket's pairs spread
    // over multiple lane cells (the proof the uniform path actually ran).
    import spark.implicits._
    import graft.operators.Scale
    val rows = (0 until 5).flatMap(bk => (1L to 70L).map(i => (bk * 1000L + i, s"hb$bk"))) ++
      (9001L to 9012L).map(i => (i, "cold"))
    val df = rows.toDF("id", "bk")
    val plain = df.as("x").join(df.as("y"),
        col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("graft.lanedJoin.hotCap", "2")
    try {
      val laned = Scale.lanedBucketJoin(df, df, Seq("bk"), "id", "id", 8)
        .where(col("x.id") < col("y.id"))
        .select(col("x.id").as("a"), col("y.id").as("b"),
          col("x.__lx"), col("x.__ly"))
        .collect()
      val pairs = laned.map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.length === pairs.toSet.size,
        "a pair meets in exactly ONE lane cell — no double emission")
      assert(pairs.toSet === plain, "fallback must be row-identical to the plain join")
      val coldCells = laned.filter(_.getLong(0) >= 9000L)
        .map(r => (r.getInt(2), r.getInt(3))).distinct
      assert(coldCells.length > 1,
        "under the cap fallback even cold buckets lane (uniform path ran)")
    } finally spark.conf.unset("graft.lanedJoin.hotCap")
  }

  test("fixture properties the native-kernel corner arms rely on (r15 verdict #3)") {
    // The r15/r16 kernel swaps (cosine_sim, simhash60, plane_sig,
    // quant8_stats/quantpd_stats, hash60 consumers) are proven identical
    // on data WITHOUT: null embedding elements, NaN elements, zero-norm
    // vectors, non-64-dim vectors, or null document text. The byte-
    // identical goldens pin equality on today's fixtures; THIS pin makes
    // a future fixture regeneration that breaks one of those properties
    // fail loudly here instead of silently flipping a kernel's corner arm
    // (the r15 verdict's ask: "require or pin the fixture properties").
    for (d <- Seq(TestSession.sf0001, TestSession.sf001)) {
      val e = Tables.embeddings(spark, d)
      val bad = e.select(
        sum(when(size(col("embedding")) =!= 64, 1L).otherwise(0L)).as("dims"),
        sum(when(exists(col("embedding"),
          x => x.isNull || isnan(x.cast("double"))), 1L).otherwise(0L)).as("els"),
        sum(when(aggregate(col("embedding"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double")) === 0.0, 1L)
          .otherwise(0L)).as("zeronorm"),
        sum(when(col("embedding").isNull, 1L).otherwise(0L)).as("nullvec")).head()
      assert(bad.getLong(0) === 0L, s"$d: non-64-dim embedding")
      assert(bad.getLong(1) === 0L, s"$d: null/NaN embedding element")
      assert(bad.getLong(2) === 0L, s"$d: zero-norm embedding")
      assert(bad.getLong(3) === 0L, s"$d: null embedding vector")
      val docs = Tables.documents(spark, d)
      assert(docs.where(col("text").isNull || col("source").isNull).count() === 0L,
        s"$d: null document text/source")
    }
  }
}

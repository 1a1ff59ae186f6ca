package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Qutil._
import graft.functions.GraftFunctions.cosineSim

/** SURVEY §2.12 extension — lexical retrieval scoring (BM25) and hybrid
  * lexical+vector rank fusion (RRF), the two ranking primitives a
  * RAG-style curation pipeline runs over a landed corpus: score documents
  * against a query, score embeddings against a query vector, fuse.
  *
  * Cross-engine exactness strategy:
  *  - BM25's tf quotient is cleared to PURE INTEGERS. With k1 = 6/5 and
  *    b = 3/4 (the exact rationals of the textbook 1.2 / 0.75 defaults),
  *    multiplying tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) through by
  *    10*totdl (avgdl = totdl/N) gives
  *        num = 22*tf*totdl
  *        den = 10*tf*totdl + 3*totdl + 9*dl*N
  *    — both BIGINT, so the only floating point per term is the idf ln()
  *    and ONE division, in one fixed textual order (shared formula
  *    string). The final score adds the fixed per-term expressions
  *    left-to-right on both engines; ROUND 3 (the geomean ln rule).
  *    NOTE the integer clearing is the fixture-scale exactness device: at
  *    true 100 TB corpus sizes totdl*tf would overflow BIGINT and a
  *    production build would keep avgdl as the usual double constant.
  *  - RRF is ZERO floating point: rank weights floor(1e12/(60+r)) for
  *    r = 1..20 are derived once in Scala as exact BIGINTs and
  *    interpolated into BOTH engines (the aaWeights/benford pattern), so
  *    the fused score is a sum of two table lookups.
  *
  * 100 TB shape: tokens are filtered to the query terms BEFORE any
  * aggregation (the explode stream collapses immediately); df and corpus
  * totals are keys=[] partial aggregates broadcast back as one bounds
  * row; the ranker tails are TakeOrderedAndProject (orderBy+limit), and
  * ranks over the bounded top-K sets come from the collect_list +
  * sort_array + posexplode trick (text_zipf_slope's shape) — no
  * partitionless window ever runs, and the fusion join touches 2×K rows.
  */
object RankQueries {

  /** Fixed lexical query — vocabulary tokens in a FIXED order (the score
    * sum unrolls term-by-term in this textual order on both engines, so
    * IEEE addition order can never drift). ONE definition feeding query,
    * oracle, and RankSpec. */
  private[graft] val queryTerms: Seq[String] = Seq("filter", "join", "merge", "scan")
  private val nT = queryTerms.size

  /** BM25 top-k emission size (and the RRF per-ranker depth). */
  private[graft] val rrfTop = 20
  private[graft] val rrfK = 60

  /** Exact RRF weights floor(1e12/(60+r)), r = 1..rrfTop — ONE Scala
    * derivation interpolated into query AND oracle; absence from a
    * ranker's top-K contributes exactly 0. */
  private[graft] val rrfWeights: Seq[Long] =
    (1 to rrfTop).map(r => 1000000000000L / (rrfK + r))

  /** One BM25 term score (Lucene non-negative idf): shared formula string
    * referencing columns n, totdl, dl, tf$i, df$i — interpolated verbatim
    * into selectExpr and the DuckDB oracle so no op order can drift.
    * `ln` is natural log in BOTH dialects (DuckDB `log` is base 10 —
    * never use it in a shared string). */
  private def termSql(i: Int): String =
    s"(ln(1.0 + (CAST(n - df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5)) * " +
      s"(CAST(22 * tf$i * totdl AS DOUBLE) / " +
      s"CAST(10 * tf$i * totdl + 3 * totdl + 9 * dl * n AS DOUBLE)))"
  private def scoreSql: String = (0 until nT).map(termSql).mkString(" + ")

  /** Per-document BM25 frame (doc_id, dl, tf0..tf3, score) over ANY
    * corpus frame with (doc_id, text) — ONE definition shared by
    * text_bm25, the sim_hybrid_rrf lexical ranker (mirrored by
    * bm25CtesSql), and RankSpec's synthetic-corpus properties (the
    * zipfFit convention). */
  private[graft] def bm25Fit(corpus: DataFrame): DataFrame = {
    val docs = corpus
      .select(col("doc_id"), size(split(col("text"), " ")).cast(LongType).as("dl"))
    val toks = corpus
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok").isin(queryTerms: _*))
    val tfAggs = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"tf$i") }
    val tf = toks.groupBy("doc_id").agg(tfAggs.head, tfAggs.tail: _*)
    val dfAggs = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"df$i") }
    val dfr = toks.select("doc_id", "tok").distinct()
      .agg(dfAggs.head, dfAggs.tail: _*)
    val tot = docs.agg(count(lit(1)).as("n"), sum("dl").as("totdl"))
    val base = docs.join(tf, Seq("doc_id"), "left")
      .crossJoin(broadcast(dfr)).crossJoin(broadcast(tot))
      .select(Seq(col("doc_id"), col("dl")) ++
        (0 until nT).map(i => coalesce(col(s"tf$i"), lit(0L)).as(s"tf$i")) ++
        Seq(col("n"), col("totdl")) ++
        (0 until nT).map(i => col(s"df$i")): _*)
    base.selectExpr(
      (Seq("doc_id", "dl") ++ (0 until nT).map(i => s"tf$i") :+
        s"$scoreSql AS score"): _*)
  }

  /** Rank 1..rrfTop over a ranker's bounded top-K frame WITHOUT a
    * partitionless window: orderBy+limit (TakeOrderedAndProject) tails
    * into ONE collect_list(struct(-score, id)) aggregate + sort_array +
    * posexplode (ascending struct sort = score DESC, id ASC) — the
    * text_zipf_slope bounded-rank shape. */
  private def rankTopK(scored: DataFrame, scoreCol: String, idCol: String): DataFrame =
    scored.orderBy(col(scoreCol).desc, col(idCol)).limit(rrfTop)
      .agg(sort_array(collect_list(struct((-col(scoreCol)).as("ns"),
        col(idCol).as("id")))).as("a"))
      .select(posexplode(col("a")).as(Seq("pos", "r")))
      .select((col("pos") + 1).cast(IntegerType).as("rnk"), col("r.id").as("id"))

  val queries: Map[String, Q] = Map(
    // BM25 document scoring against the fixed 4-term query: top-10 docs.
    // Selection orders by the RAW score (identical integer+ln+division
    // sequence on both engines); the emission rounds to 3 (ln involved).
    "text_bm25" -> ((s, d) => {
      val sc = bm25Fit(Tables.documents(s, d))
      sc.orderBy(col("score").desc, col("doc_id")).limit(10)
        .select(Seq(col("doc_id"), col("dl")) ++
          (0 until nT).map(i => col(s"tf$i")) :+
          r3(col("score")).as("bm25"): _*)
        .orderBy(col("bm25").desc, col("doc_id"))
    }),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 top-20 (docs)
    // and the exact-cosine top-20 vs the query vector (vec_id 0). The
    // two id spaces are fused on id (doc_id ≡ vec_id where both exist);
    // a full-outer join keeps single-ranker hits with the other weight
    // exactly 0 — the standard RRF contract. Output is BIGINT-exact
    // (scaled weights), no rounding rule needed at all.
    "sim_hybrid_rrf" -> ((s, d) => {
      val lex = rankTopK(bm25Fit(Tables.documents(s, d)), "score", "doc_id")
        .withColumnRenamed("rnk", "r_lex")
      val q = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      val cosr = Tables.embeddings(s, d).where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), cosineSim(col("embedding"), col("qv")).as("cos"))
      val vec = rankTopK(cosr, "cos", "vec_id").withColumnRenamed("rnk", "r_vec")
      // weight lookup happens BEFORE the outer join, where the rank is
      // never null (element_at with a null index misbehaves under the
      // full-outer nullability rewrite — it returned the LAST array
      // element, not null, in round 6f testing; never rely on it)
      val wlit = typedlit(rrfWeights)
      val lexW = lex.withColumn("w_lex", element_at(wlit, col("r_lex")))
      val vecW = vec.withColumn("w_vec", element_at(wlit, col("r_vec")))
      lexW.join(vecW, Seq("id"), "full_outer")
        .select(col("id"),
          coalesce(col("r_lex"), lit(0)).as("rank_lex"),
          coalesce(col("r_vec"), lit(0)).as("rank_vec"),
          (coalesce(col("w_lex"), lit(0L)) +
            coalesce(col("w_vec"), lit(0L))).as("rrf_e12"))
        .orderBy(col("rrf_e12").desc, col("id"))
    })
  )

  /** DuckDB mirror of bm25Fit: same filtered token stream, same
    * conditional tf/df pivots, same bounds row, scoreSql verbatim.
    * DuckDB SUM(BIGINT) → HUGEINT, so every count/sum casts back. */
  private def bm25CtesSql: String = {
    val tfCases = queryTerms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN tok = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf$i" }.mkString(", ")
    val dfCases = queryTerms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN tok = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS df$i" }.mkString(", ")
    val inList = queryTerms.map(t => s"'$t'").mkString(", ")
    val tfCoalesced = (0 until nT).map(i => s"COALESCE(tf$i, 0) AS tf$i").mkString(", ")
    val dfCols = (0 until nT).map(i => s"df$i").mkString(", ")
    val tfCols = (0 until nT).map(i => s"tf$i").mkString(", ")
    "docs AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents), " +
      "ftk AS (SELECT doc_id, tok FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
      s"FROM documents) WHERE tok IN ($inList)), " +
      s"tf AS (SELECT doc_id, $tfCases FROM ftk GROUP BY 1), " +
      s"dfr AS (SELECT $dfCases FROM (SELECT DISTINCT doc_id, tok FROM ftk)), " +
      "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS totdl FROM docs), " +
      s"b AS (SELECT doc_id, dl, $tfCoalesced, n, totdl, $dfCols " +
      "FROM docs LEFT JOIN tf USING (doc_id) CROSS JOIN dfr CROSS JOIN tot), " +
      s"sc AS (SELECT doc_id, dl, $tfCols, $scoreSql AS score FROM b)"
  }

  /** The cosine ranker CTE (vs vec_id 0) — same fold as Qutil.cosineD
    * (float→double promotion matches zip_with coercion bit-for-bit). */
  private def cosCteSql: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, 64), i -> CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE)))"
    "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
      s"cs AS (SELECT vec_id, ${dot("embedding", "qv")} / " +
      s"(sqrt(${dot("embedding", "embedding")}) * sqrt(${dot("qv", "qv")})) AS cos " +
      "FROM embeddings CROSS JOIN q WHERE vec_id <> 0)"
  }

  val oracle: Map[String, String] = Map(
    "text_bm25" ->
      (s"WITH $bm25CtesSql " +
       s"SELECT doc_id, dl, ${(0 until nT).map(i => s"tf$i").mkString(", ")}, bm25 " +
       "FROM (SELECT *, ((CASE WHEN isnan((score)) OR abs((score)) >= 9e12 THEN CAST((score) AS DOUBLE) ELSE CAST(floor((score) * 1e3 + 0.5) AS DOUBLE) / 1e3 END)) AS bm25 FROM sc ORDER BY score DESC, doc_id LIMIT 10) " +
       "ORDER BY bm25 DESC, doc_id"),
    "sim_hybrid_rrf" ->
      // ranks via ROW_NUMBER over the same raw-score top-20 selections
      // (the oracle side has no plan constraints); the weight list is the
      // SAME Scala-derived literal as the query's typedlit.
      (s"WITH $bm25CtesSql, $cosCteSql, " +
       "lexr AS (SELECT doc_id AS id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS r_lex " +
       "FROM (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT " + rrfTop + ")), " +
       "vecr AS (SELECT vec_id AS id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS INT) AS r_vec " +
       "FROM (SELECT vec_id, cos FROM cs ORDER BY cos DESC, vec_id LIMIT " + rrfTop + ")) " +
       "SELECT COALESCE(l.id, v.id) AS id, COALESCE(r_lex, 0) AS rank_lex, " +
       "COALESCE(r_vec, 0) AS rank_vec, " +
       s"COALESCE((${rrfWeights.mkString("[", ", ", "]")})[r_lex], 0) + " +
       s"COALESCE((${rrfWeights.mkString("[", ", ", "]")})[r_vec], 0) AS rrf_e12 " +
       "FROM lexr l FULL OUTER JOIN vecr v ON l.id = v.id " +
       "ORDER BY rrf_e12 DESC, id")
  )
}

package graft

import java.sql.Timestamp

import graft.operators.{CorpusOps, Fuzzy, Profile, Retention, Search}
import org.apache.spark.sql.functions._

/** Round-4 pipeline operators: BM25, fuzzy join, chunking, n-grams,
  * profiler, cohort/funnel.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("q99 deletion-neighborhood fuzzy join equals the naive levenshtein theta-join") {
    val names = Tables(spark, sf).customer.select(col("c_name").as("k"))
    val got = run("q99_fuzzy_join").as[(String, String)].collect().toSeq
    val naive = names.as("a").crossJoin(names.as("b"))
      .filter(col("a.k") < col("b.k") &&
        levenshtein(col("a.k"), col("b.k")) <= 1)
      .select(col("a.k"), col("b.k"))
      .orderBy("a.k", "b.k")
      .as[(String, String)].collect().toSeq
    assert(got == naive)
    assert(got.nonEmpty) // fixture sanity: digit-substitution pairs exist
  }

  test("fuzzy join candidates come from an equi-join, not a cartesian product") {
    val plan = run("q99_fuzzy_join").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("fuzzy join catches substitution, deletion, and case-equal strings exactly once") {
    val df = Seq("abcd", "abce", "abd", "xbcd", "abcd_far").toDF("k")
    val got = Fuzzy.fuzzyPairs(df, "k").as[(String, String)].collect().toSeq
    // lev(abce, abd) = 2: sharing a deletion variant ("ab?") admits it
    // as a candidate, the final levenshtein filter must drop it
    assert(got == Seq(
      ("abcd", "abce"), // substitution at tail
      ("abcd", "abd"), // deletion
      ("abcd", "xbcd"), // substitution at head (no shared prefix!)
    ))
  }

  test("q172 ER blocking recall: prefix blocks are a subset of brand blocks, recall pinned") {
    val row = run("q172_er_blocking_recall").collect().head
    val (nFull, nPrefix, nOverlap, recall) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))
    // refinement soundness: every prefix-blocked match is a brand-
    // blocked match — the refinement can lose pairs, never invent them
    assert(nOverlap == nPrefix, s"prefix matches escaped brand blocks: $row")
    assert(nFull >= nPrefix)
    info(f"ER blocking recall = $recall%.3f ($nPrefix/$nFull)")
    assert(recall >= 0.6, s"blocking recall collapsed: $recall") // observed 0.75 at sf0.001
  }

  test("q177 bucketed ER recall: subset properties and agreement with the exact measurement") {
    val row = run("q177_er_recall_bucketed").collect().head
    val (nb, nFull, nPrefix, nOverlap, recall) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getDouble(4))
    assert(nb >= 1)
    // same refinement soundness as q172, under the identical sampling
    assert(nOverlap == nPrefix, s"sampled prefix matches escaped brand blocks: $row")
    assert(nFull >= nPrefix)
    assert(recall >= 0.0 && recall <= 1.0)
    // sampling is pair-thinning: the sampled reference is a subset of
    // the exact reference measured by q172
    val exact = run("q172_er_blocking_recall").collect().head
    assert(nFull <= exact.getLong(0), "sampled full pairs exceed exact full pairs")
    info(f"bucketed recall = $recall%.3f (exact ${exact.getDouble(3)}%.3f, $nb buckets)")
  }

  test("within_edit1 agrees with levenshtein <= 1 across a generated pair grid") {
    // alphabet {a,b}, lengths 0..4: 31 strings, all 961 ordered pairs —
    // covers equality, substitution, insert/delete, distance ≥ 2, and
    // the trailing-byte edge cases exhaustively at small size
    val strs = (0 to 4).flatMap(n =>
      (0 until (1 << n)).map(bits =>
        (0 until n).map(i => if (((bits >> i) & 1) == 1) 'b' else 'a').mkString))
    val pairs = for (x <- strs; y <- strs) yield (x, y)
    val df = pairs.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.functions.GraftFunctions.withinEdit1(col("x"), col("y")).as("fast"),
        (levenshtein(col("x"), col("y")) <= 1).as("slow"))
    assert(df.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("within_edit1 handles non-ASCII: a codepoint edit that changes encoded length") {
    // 'a'→'é' is ONE levenshtein edit but the UTF-8 encodings differ by
    // a byte ('é' is 2 bytes) — the codepoint fallback must accept it;
    // also cover multi-byte equality, insertion, and distance-2 rejects
    val pairs = Seq(
      ("cafe", "café"), // substitution changing encoded length
      ("café", "café"), // equality with multi-byte content
      ("café", "cafés"), // insertion after multi-byte char
      ("café", "cafeés"), // two edits → must reject
      ("naïve", "naive"), // substitution back to ASCII
      ("日本", "日本語"), // CJK insertion (3-byte codepoints)
      ("日本語", "日本誤"), // CJK substitution
      ("日本語", "語本日"), // distance 2 → reject
    )
    val df = pairs.toDF("x", "y")
      .select(
        graft.functions.GraftFunctions.withinEdit1(col("x"), col("y")).as("fast"),
        (levenshtein(col("x"), col("y")) <= 1).as("slow"))
    assert(df.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("jaro_winkler matches the DuckDB-pinned reference values exactly") {
    // the probe table that pinned the semantics (window max/2-1, greedy
    // in-window matching, t = mismatches/2 integer, boost iff jaro>0.7,
    // empty -> 0); values are DuckDB jaro_winkler_similarity outputs
    val cases = Seq(
      ("martha", "marhta", 0.9611111111),
      ("dixon", "dicksonx", 0.8133333333),
      ("crate", "trace", 0.7333333333), // jaro>0.7 but prefix 0: no boost
      ("abcde", "edcba", 0.4666666667),
      ("", "", 0.0),
      ("a", "", 0.0),
      ("ab", "ba", 0.0), // window 0 at len 2: no off-position matches
      ("abc", "acb", 0.5555555556),
      ("abcd", "badc", 0.8333333333), // all four matches mismatched: t=2
      ("abcdef", "fedcba", 0.3888888889), // window 2 excludes e,f matches
      ("ab", "abcdefgh", 0.8), // boost on a one-sided length gap
      ("same", "same", 1.0),
    )
    val got = cases.toDF("x", "y", "want")
      .select(
        graft.functions.GraftFunctions.jaroWinkler(col("x"), col("y")).as("jw"),
        col("want"))
      .collect()
    got.foreach(r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9, r.toString))
  }

  test("jaro_winkler SQL registration and symmetry") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta') AS a, jaro_winkler('marhta', 'martha') AS b")
      .head
    assert(math.abs(r.getDouble(0) - 0.9611111111) < 1e-9)
    assert(r.getDouble(0) == r.getDouble(1))
  }

  test("q100 chunks cover the text with the declared overlap") {
    val chunks = CorpusOps.chunk(
      Seq((1L, "a" * 205)).toDF("doc_id", "text"), window = 80, overlap = 20)
      .select("chunk_id", "chunk_start", "chunk_len")
      .as[(Int, Long, Int)].collect().toSeq
    // starts every 60 chars until len-1: 0, 60, 120, 180
    assert(chunks == Seq((0, 0L, 80), (1, 60L, 80), (2, 120L, 80), (3, 180L, 25)))
  }

  test("chunk yields nothing for empty text (DuckDB generate_series parity)") {
    val chunks = CorpusOps.chunk(
      Seq((1L, ""), (2L, "abc")).toDF("doc_id", "text"), window = 80, overlap = 20)
      .select("doc_id", "chunk_id", "chunk_len")
      .as[(Long, Int, Int)].collect().toSeq
    assert(chunks == Seq((2L, 0, 3)))
  }

  test("q101 short docs yield no fabricated n-grams (the backward-sequence guard)") {
    val grams = CorpusOps.topNgrams(
      Seq("one two", "solo", "a b c d").toDF("text"), n = 3, k = 10)
      .as[(String, Long)].collect().toSeq
    assert(grams == Seq(("a b c", 1L), ("b c d", 1L)))
  }

  test("q102 profiler counts nulls and distincts per column") {
    val df = Seq(
      (Some(1L), Some("x")), (Some(1L), None), (None, Some("y")),
    ).toDF("a", "b")
    val got = Profile.profile(df, Seq("a", "b"))
      .as[(String, Long, Long, Long, String, String)].collect().toSeq
    assert(got == Seq(
      ("a", 3L, 1L, 1L, "1", "1"),
      ("b", 3L, 1L, 2L, "x", "y")))
  }

  test("approxProfile matches the exact profile within HLL tolerance, without an Expand") {
    val cols = Seq("l_orderkey", "l_returnflag")
    val li = Tables(spark, sf).lineitem
    def asMap(df: org.apache.spark.sql.DataFrame) = df
      .select("col_name", "n_rows", "n_nulls", "n_distinct")
      .as[(String, Long, Long, Long)].collect()
      .map { case (c, n, nl, nd) => c -> ((n, nl, nd)) }.toMap
    val exact = asMap(Profile.profile(li, cols))
    val approx = asMap(Profile.approxProfile(li, cols))
    for ((c, (n, nulls, nd)) <- exact) {
      val (an, anulls, and) = approx(c)
      assert((an, anulls) == ((n, nulls)))
      assert(math.abs(and - nd) <= math.max(2L, (nd * 0.15).toLong),
        s"$c: approx $and vs exact $nd")
    }
    val plan = Profile.approxProfile(li, cols).queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan.take(1500))
  }

  test("q104 funnel requires strict event order within each user") {
    def ts(min: Int) = new Timestamp(min * 60000L)
    val ev = Seq(
      // u1 completes the funnel in order
      (1L, "view", ts(0)), (1L, "click", ts(1)), (1L, "purchase", ts(2)),
      // u2 clicks BEFORE first view: never a clicker
      (2L, "click", ts(0)), (2L, "view", ts(1)), (2L, "purchase", ts(2)),
      // u3 views only
      (3L, "view", ts(0)),
    ).toDF("user_id", "event_type", "ts")
    val got = Retention.funnel(ev).as[(Long, Long, Long)].head()
    assert(got == ((3L, 1L, 1L)))
  }

  test("q103 cohort week 0 row counts every user of the cohort") {
    val events = Tables(spark, sf).events
    val rows = Retention.cohortRetention(events)
    val week0 = rows.filter(col("week_no") === 0)
      .agg(sum("n_users")).as[Long].head()
    val users = events.select(countDistinct("user_id")).as[Long].head()
    assert(week0 == users) // every user is active in their own first week
  }

  test("q105 mergeSchema read spans generations: late column NULL exactly on old files") {
    val merged = sources.SchemaEvolution.evolvedOrders(spark, sf)
    assert(merged.columns.contains("priority_score"))
    assert(merged.columns.contains("generation")) // partition discovery
    val byGen = merged.groupBy("generation")
      .agg(count(lit(1)).as("n"),
        count(col("priority_score")).as("n_scored"))
      .orderBy("generation")
      .as[(Int, Long, Long)].collect().toSeq
    val total = Tables(spark, sf).orders.count()
    assert(byGen.map(_._2).sum == total)
    assert(byGen.head._3 == 0L) // generation 1: column absent → all NULL
    assert(byGen(1)._3 == byGen(1)._2) // generation 2: fully populated
  }

  test("q106 grouped top terms equal the window-rank brute force; plan uses the heap aggregate") {
    val docs = Tables(spark, sf).documentsRebalanced
    val got = run("q106_top_terms_per_lang")
    val rows = got.as[(String, Int, String, Long)].collect().toSeq
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(col("lang").as("grp"),
        explode(operators.TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("grp", "term").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("grp").orderBy(col("n").desc, col("term"))
    val brute = counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("grp"), col("rank"), col("term"), col("n"))
      .orderBy("grp", "rank")
      .as[(String, Int, String, Long)].collect().toSeq
    assert(rows == brute)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && !plan.contains("Window"),
      plan.take(2000))
    // the rebalance fan-out is size-derived: one task per 32 KiB of
    // source parquet, clamped to [1, shuffle partitions]
    val bytes = Tables(spark, sf).documents.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (bytes / 32768).max(1).min(spark.sessionState.conf.numShufflePartitions)
    val fanOut = docs.queryExecution.logical match {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
        r.numPartitions
    }
    assert(BigInt(fanOut) == want, s"fan-out $fanOut for $bytes bytes")
  }

  test("topk_score_str ties break by UTF-8 order and survive partial merges") {
    // 7 distinct terms over 4 partitions (forces serialize+merge);
    // scores tie across t1/t6 and t0/t5
    val df = spark.range(0, 7, 1, 4)
      .select(concat(lit("t"), col("id").cast("string")).as("term"),
        (col("id") % 5).cast("double").as("n"))
    val got = df.groupBy(lit(1).as("g"))
      .agg(graft.functions.GraftFunctions.topkScoreStr(col("n"), col("term"), 4).as("top"))
      .select(expr("transform(top, x -> x.key)")).as[Seq[String]].head()
    // n: t0→0 t1→1 t2→2 t3→3 t4→4 t5→0 t6→1; tie at n=1 → t1 before t6
    assert(got == Seq("t4", "t3", "t2", "t1"))
  }

  test("q107 corrupt rows carry the raw line in the dead-letter column, fields null") {
    // cache: Spark disallows corrupt-only-column queries on the raw
    // source (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the documented
    // pattern is to cache the parsed result first
    val df = sources.CorruptJsonl.corruptDocuments(spark, sf).cache()
    try {
      val bad = df.filter(col("_corrupt_record").isNotNull)
      assert(bad.filter(col("doc_id").isNotNull || col("text").isNotNull).count() == 0)
      val sample = bad.select("_corrupt_record").as[String].head()
      assert(sample.startsWith("{\"doc_id\"") && !sample.endsWith("}"))
      // planting rule: exactly the doc_id ≡ 0 (mod 97) rows are bad
      val expectedBad = Tables(spark, sf).documents
        .filter(col("doc_id") % 97 === 0).count()
      assert(bad.count() == expectedBad)
    } finally df.unpersist()
  }

  test("q108 SCD2 collapses no-change events and leaves the current interval open") {
    def ts(min: Int) = new Timestamp(min * 60000L)
    val ev = Seq(
      (1L, ts(0), 10L, 5.2), // state 5
      (1L, ts(1), 11L, 5.9), // still 5 — collapsed
      (1L, ts(2), 12L, 7.1), // state 7
      (2L, ts(5), 20L, 3.0), // single state, open interval
    ).toDF("user_id", "ts", "event_id", "value")
    val got = operators.Cdc.scd2History(ev)
      .as[(Long, Long, Option[Long], Long)].collect().toSeq
    def us(min: Int) = min * 60000000L
    assert(got == Seq(
      (1L, us(0), Some(us(2)), 5L), // closed by the 7-state, spans the collapse
      (1L, us(2), None, 7L),
      (2L, us(5), None, 3L)))
  }

  test("q98 BM25 ranks the rare term's documents above common-term-only matches") {
    val got = run("q98_bm25")
    val rows = got.as[(Long, Double, Int)].collect().toSeq
    assert(rows.size == 10)
    assert(rows.map(_._2) == rows.map(_._2).sorted.reverse) // score-descending
    // every top doc must contain 'dup' (idf of the rare term dominates)
    val dupDocs = Tables(spark, sf).documentsRebalanced
      .filter(array_contains(operators.TextAnalysis.tokens(col("text")), "dup"))
      .select("doc_id").as[Long].collect().toSet
    assert(rows.forall(r => dupDocs.contains(r._1)),
      s"top-10 contains non-'dup' docs: ${rows.map(_._1)}")
    // df/idf sanity via the public shape: n_terms ≤ 3
    assert(rows.forall(_._3 <= 3))
  }

  test("BM25 forces no broadcast of corpus-derived frames (hints only on df and stats)") {
    // At fixture scale AQE may legitimately broadcast the tiny dl
    // frame — the 100 TB property is that the PROGRAM only pins
    // broadcasts on the query-sized frames: the |Q|-row df and the
    // 1-row stats. Exactly those two hints, nothing else.
    val plan = Search.bm25(Tables(spark, sf).documentsRebalanced,
      Seq("join", "vector", "dup"), k = 10)
      .queryExecution.optimizedPlan
    val hints = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        Seq(j.hint.leftHint, j.hint.rightHint).flatten.filter(_.strategy.isDefined)
    }.flatten
    assert(hints.size == 2, s"expected the df + stats hints, got: $hints")
  }
}

package graft.operators

import graft.{QueryEntry, Tables}
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mixture-of-experts ROUTING analytics — the serving/training-infra
  * readout for a corpus that will feed an MoE model: per-expert token
  * load, softmax importance, the Switch-Transformer load-balancing
  * auxiliary loss (Fedus et al. 2021, §2.2: aux = E · Σ_e f_e · P_e),
  * and capacity-factor overflow (the dropped-token fraction at a given
  * expert capacity). The router itself is the pinned hyperplane
  * generator the LSH family already certifies (q23's splitmix scramble,
  * `Similarity.planeComponent`, seeded into a disjoint plane range) —
  * data-independent, inlinable into the DuckDB oracle as exact double
  * literals.
  *
  * Determinism contract (the q23/q251 rules): each logit is the SAME
  * left-associated chain of exact (double)float·(double)float products
  * in both engines, rounded ONCE to 6dp DECIMAL; softmax goes through
  * max-subtract → exp → 6dp DECIMAL (the accepted 1-ulp transcendental
  * surface, q251's ln convention) → exact decimal sum → one division
  * rounded 6dp; argmax and every aggregate compare exact decimals.
  *
  * Scale shape: one linear scan computing E=8 codegen dot products per
  * vector, one map-side-combined grouped rollup over E keys, and a
  * broadcast scalar carry for N — no shuffle wider than E rows except
  * q332's per-expert rank (see its note).
  */
object Router {

  val Experts = 8
  val Dim = 64

  /** Capacity factor 1.25 as integer math: cap = ceil(125·N / (100·E)). */
  val CapacityPct = 125

  private val dec6 = DataTypes.createDecimalType(18, 6)

  /** Router weight (e, d): the shared pinned hyperplane scramble, expert
    * planes offset +100 so the router matrix is disjoint from q23's LSH
    * planes (same generator, different plane ids — NOT the same planes).
    */
  private[operators] def routerComponent(e: Int, d: Int): Float =
    Similarity.planeComponent(e + 100, d)

  private def lChainSql(e: Int): String =
    (0 until Dim).map { d =>
      val c = routerComponent(e, d).toDouble
      s"CAST(embedding[${d + 1}] AS DOUBLE) * CAST('${c.toString}' AS DOUBLE)"
    }.mkString(" + ")

  /** Per-vector routing frame: vec_id, 6dp-DECIMAL logits l0..l7, top-1
    * expert (argmax over exact decimals, ties → smallest e), softmax
    * probs p6_0..p6_7 (6dp DECIMAL), and the routed expert's own gate.
    */
  private[graft] def routed(emb: DataFrame): DataFrame = {
    val lCols = (0 until Experts).map { e =>
      val w = typedlit(Array.tabulate(Dim)(d => routerComponent(e, d)))
      round(GraftFunctions.dotF32(col("embedding"), w), 6).cast(dec6).as(s"l$e")
    }
    val base = emb.select(col("vec_id") +: lCols: _*)
      .withColumn("lmax",
        greatest((0 until Experts).map(e => col(s"l$e")): _*))
    // first-match `when` chain = smallest-index tie-break, mirrored by
    // the oracle's CASE
    val expert = (1 until Experts)
      .foldLeft(when(col("l0") === col("lmax"), lit(0))) { (acc, e) =>
        acc.when(col(s"l$e") === col("lmax"), lit(e))
      }
    val withU = base.withColumn("expert", expert)
      .select(
        Seq(col("vec_id"), col("expert")) ++ (0 until Experts).map { e =>
          round(exp((col(s"l$e") - col("lmax")).cast(DoubleType)), 6)
            .cast(dec6).as(s"u$e")
        }: _*)
    val z = (1 until Experts)
      .foldLeft(col("u0"))((acc, e) => acc + col(s"u$e"))
    val withP = withU.withColumn("z", z)
      .select(
        Seq(col("vec_id"), col("expert")) ++ (0 until Experts).map { e =>
          round(col(s"u$e").cast(DoubleType) / col("z").cast(DoubleType), 6)
            .cast(dec6).as(s"p6_$e")
        }: _*)
    // routed expert's own gate value (CASE chain, exact decimals)
    val gate = (1 until Experts)
      .foldLeft(when(col("expert") === 0, col("p6_0"))) { (acc, e) =>
        acc.when(col("expert") === e, col(s"p6_$e"))
      }
    withP.withColumn("gate", gate)
  }

  /** Shared oracle CTE chain ending at `p` (vec_id, expert, p6_0..p6_7,
    * gate) — the DuckDB mirror of [[routed]].
    */
  private def routedSql: String = {
    val lSel = (0 until Experts).map { e =>
      s"CAST(ROUND(${lChainSql(e)}, 6) AS DECIMAL(18,6)) AS l$e"
    }.mkString(",\n         ")
    val lmax = s"GREATEST(${(0 until Experts).map("l" + _).mkString(", ")})"
    val expertCase = "CASE " + (0 until Experts)
      .map(e => s"WHEN l$e = lmax THEN $e").mkString(" ") + " END"
    val uSel = (0 until Experts).map { e =>
      s"CAST(ROUND(exp(CAST(l$e - lmax AS DOUBLE)), 6) AS DECIMAL(18,6)) AS u$e"
    }.mkString(",\n         ")
    val zSum = (0 until Experts).map("u" + _).mkString(" + ")
    val pSel = (0 until Experts).map { e =>
      s"CAST(ROUND(CAST(u$e AS DOUBLE) / CAST(z AS DOUBLE), 6) AS DECIMAL(18,6)) AS p6_$e"
    }.mkString(",\n         ")
    val gateCase = "CASE " + (0 until Experts)
      .map(e => s"WHEN expert = $e THEN p6_$e").mkString(" ") + " END"
    s"""lg AS (
       |  SELECT vec_id,
       |         $lSel
       |  FROM embeddings
       |), lx AS (
       |  SELECT *, $lmax AS lmax FROM lg
       |), ex AS (
       |  SELECT vec_id, $expertCase AS expert,
       |         $uSel
       |  FROM lx
       |), uz AS (
       |  SELECT *, $zSum AS z FROM ex
       |), p0 AS (
       |  SELECT vec_id, expert,
       |         $pSel
       |  FROM uz
       |), p AS MATERIALIZED (
       |  SELECT *, $gateCase AS gate FROM p0
       |)""".stripMargin
  }

  lazy val entries: Seq[QueryEntry] = Seq(

    // q331 — MoE router load balance: per expert, the top-1 token load
    // (count + fraction), softmax importance fraction, and the per-
    // expert contribution to the Switch load-balancing aux loss
    // (E·f_e·P_e; the total loss is the column's sum, = 1 exactly when
    // perfectly balanced). The number a mixture pipeline reads before
    // committing a router: which experts starve, which overflow.
    // Scale: E dot products per vector in one codegen scan; the rollup
    // is an 8-key map-side-combined agg; N rides a broadcast scalar.
    QueryEntry.sql(
      "q331_moe_routing", {
        val longSel = (0 until Experts).map { e =>
          s"SELECT expert AS ex, $e AS e, p6_$e AS p6 FROM p"
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH $routedSql, n AS (SELECT COUNT(*) AS n FROM p),
           |lng AS (
           |  $longSel
           |)
           |SELECT e AS expert,
           |       CAST(SUM(CASE WHEN ex = e THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_routed,
           |       ROUND(SUM(CASE WHEN ex = e THEN 1 ELSE 0 END) * 1.0 / n, 6)
           |         AS load_frac,
           |       ROUND(CAST(SUM(p6) AS DOUBLE) / n, 6) AS importance_frac,
           |       ROUND($Experts.0
           |             * ROUND(SUM(CASE WHEN ex = e THEN 1 ELSE 0 END)
           |                     * 1.0 / n, 6)
           |             * ROUND(CAST(SUM(p6) AS DOUBLE) / n, 6), 6)
           |         AS aux_contrib
           |FROM lng, n GROUP BY e, n ORDER BY expert""".stripMargin
      },
    ) { (s, dir) =>
      val r = routed(Tables(s, dir).embeddings)
      val stackExpr = "stack(" + Experts + ", " +
        (0 until Experts).map(e => s"$e, p6_$e").mkString(", ") +
        ") as (e, p6)"
      val lng = r.selectExpr("expert as ex", stackExpr)
      val n = r.agg(count(lit(1)).as("n"))
      lng.groupBy(col("e"))
        .agg(
          sum(when(col("ex") === col("e"), 1L).otherwise(0L)).as("n_routed"),
          sum(col("p6")).as("imp_sum"))
        .crossJoin(broadcast(n))
        .select(
          col("e").as("expert"),
          col("n_routed"),
          round(col("n_routed") * lit(1.0) / col("n"), 6).as("load_frac"),
          round(col("imp_sum").cast(DoubleType) / col("n"), 6)
            .as("importance_frac"),
          round(lit(Experts.toDouble)
            * round(col("n_routed") * lit(1.0) / col("n"), 6)
            * round(col("imp_sum").cast(DoubleType) / col("n"), 6), 6)
            .as("aux_contrib"))
        .orderBy("expert")
    },

    // q332 — expert CAPACITY overflow: with capacity factor 1.25, each
    // expert accepts ceil(1.25·N/E) tokens ranked by gate (DESC, then
    // vec_id — an exact-decimal order); the rest drop. Per expert: the
    // routed count, capacity, dropped count/fraction, and the mean gate
    // of the KEPT tokens — the token-dropping audit run before fixing a
    // capacity factor. The per-expert rank is TWO-PHASE (r12 VERDICT
    // item 4 — no single global window per expert, whose parallelism
    // would be bounded by E=8): range-partition on the full rank key
    // (expert, gate DESC, vec_id) so partition boundaries respect the
    // order, rank WITHIN each physical partition (a (pid, expert)
    // window — parallelism P×E), and add each partition's per-expert
    // rank OFFSET from a parallelism-sized (P×E-row) count frame
    // merged by a tiny triangular self-join. Exact: vec_id makes the
    // rank key a total order, so offset + local rank IS the global
    // rank whatever boundaries the range sampler picked. The pid frame
    // is localCheckpoint-pinned because range-boundary sampling is not
    // deterministic across executions — offsets and local ranks must
    // read the SAME pid assignment.
    QueryEntry.sql(
      "q332_expert_capacity",
      s"""WITH $routedSql, n AS (SELECT COUNT(*) AS n FROM p),
         |cap AS (SELECT ($CapacityPct * n + ${100 * Experts - 1})
         |               // ${100 * Experts} AS cap, n FROM n),
         |rk AS (
         |  SELECT expert, gate,
         |         ROW_NUMBER() OVER (PARTITION BY expert
         |                            ORDER BY gate DESC, vec_id) AS rk
         |  FROM p
         |)
         |SELECT expert,
         |       CAST(COUNT(*) AS BIGINT) AS n_routed,
         |       CAST(MAX(cap) AS BIGINT) AS capacity,
         |       CAST(SUM(CASE WHEN rk > cap THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_dropped,
         |       ROUND(SUM(CASE WHEN rk > cap THEN 1 ELSE 0 END) * 1.0
         |             / COUNT(*), 6) AS drop_frac,
         |       ROUND(CAST(SUM(CASE WHEN rk <= cap THEN gate
         |                          ELSE CAST(0 AS DECIMAL(18,6)) END)
         |                  AS DOUBLE)
         |             / SUM(CASE WHEN rk <= cap THEN 1 ELSE 0 END), 6)
         |         AS kept_gate_mean
         |FROM rk, cap GROUP BY expert ORDER BY expert""".stripMargin,
    ) { (s, dir) =>
      val r = routed(Tables(s, dir).embeddings)
        .select(col("vec_id"), col("expert"), col("gate"))
      val n = r.agg(count(lit(1)).as("n"))
      val withCap = r.crossJoin(broadcast(n.select(
        expr(s"($CapacityPct * n + ${100 * Experts - 1}) div ${100 * Experts}")
          .as("cap"))))
      // phase 1: order-respecting range partitions + pid pin (see the
      // entry comment for why the pin is load-bearing)
      val parts = s.sparkContext.defaultParallelism
      val ranged = graft.TransientCaches.localCheckpoint(withCap
        .repartitionByRange(parts, col("expert"), col("gate").desc, col("vec_id"))
        .withColumn("pid", spark_partition_id()))
      // per-(pid, expert) counts: P×E rows — parallelism-sized, never
      // data-sized; the offset merge is a triangular self-join on it
      val counts = ranged.groupBy("pid", "expert")
        .agg(count(lit(1)).as("c"))
      val offsets = counts.as("a")
        .join(counts.as("b"),
          col("a.expert") === col("b.expert") && col("b.pid") < col("a.pid"),
          "left")
        .groupBy(col("a.pid").as("pid"), col("a.expert").as("expert"))
        .agg(coalesce(sum(col("b.c")), lit(0L)).as("off"))
      // phase 2: local rank within (pid, expert) + broadcast offsets
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("pid"), col("expert"))
        .orderBy(col("gate").desc, col("vec_id"))
      ranged
        .withColumn("lrk", row_number().over(w))
        .join(broadcast(offsets), Seq("pid", "expert"))
        .withColumn("rk", col("off") + col("lrk"))
        .groupBy(col("expert"))
        .agg(
          count(lit(1)).as("n_routed"),
          max(col("cap")).as("capacity"),
          sum(when(col("rk") > col("cap"), 1L).otherwise(0L)).as("n_dropped"),
          round(sum(when(col("rk") > col("cap"), 1L).otherwise(0L))
            * lit(1.0) / count(lit(1)), 6).as("drop_frac"),
          round(
            sum(when(col("rk") <= col("cap"), col("gate"))
              .otherwise(lit(0).cast(dec6))).cast(DoubleType)
              / sum(when(col("rk") <= col("cap"), 1L).otherwise(0L)), 6)
            .as("kept_gate_mean"))
        .orderBy("expert")
    },
  )
}

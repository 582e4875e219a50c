package perfbench

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftEngine
import graft.metrics.NativeScanTime
import graft.sources.FastOrcSum

/** `orc_scan`: the reference program. Setup writes one seeded table as
  * snappy ORC (plus, in traced runs, an uncompressed twin for the
  * decompression split); the loop interleaves the native
  * stripe-parallel sum, the DataFrame sum and the sarg-filtered native
  * sum, checking every result against sums computed from the
  * generator's DataFrame (which never reads ORC).
  */
object OrcScan {
  /** Rows per run of sorted or high-entropy values: two ORC row-index
    * strides, so every row group holds one kind only and a narrow range
    * on the sorted values lets the sarg skip the rest.
    */
  val Block = 20000L
  val NumRanges = 4
  val RangeWidth = 2000L

  private def generator(h: Harness, rows: Long, parts: Int): DataFrame = {
    val seed = lit(h.args.seed)
    def hash(salt: Int): Column = xxhash64(col("id"), seed, lit(salt))
    // ~5% nulls; even blocks: sorted runs of 64 equal values; odd
    // blocks: high-entropy values in a disjoint range. Every value is
    // below 2e6, so the total stays far from Long.MaxValue.
    val c0 = when(pmod(hash(1), lit(20)) === 0, lit(null).cast("long"))
      .when((col("id") / Block).cast("long") % 2 === 0, (col("id") / 64).cast("long"))
      .otherwise(lit(1000000L) + pmod(hash(2), lit(1000000L)))
    h.spark.range(0, rows, 1, parts)
      .select(c0.as("c0"), pmod(hash(3), lit(1000)).cast("int").as("c1"))
  }

  /** Runs setup and the loop; returns (setup generation ms, rows the
    * untraced ops covered).
    */
  def run(h: Harness, engine: GraftEngine): (Double, Double) = {
    val a = h.args
    val spark = h.spark
    val parts = 2 * a.cpus
    val rows = math.max(1L, math.round(a.orcRows.toDouble / parts / Block)) * Block * parts
    val snappy = s"${a.work}/orc/snappy"
    val none = s"${a.work}/orc/none"
    val gen = generator(h, rows, parts)
    def write(codec: String, path: String): Long = Stats.time {
      gen.write.mode("overwrite").option("compression", codec)
        .option("orc.stripe.size", (8L << 20).toString).orc(path)
    }._2
    val rnd = new Random(a.seed)
    val sortedMax = rows / 64
    val ranges = Seq.fill(NumRanges) {
      val lo = (rnd.nextDouble() * (sortedMax - RangeWidth)).toLong
      (lo, lo + RangeWidth)
    }
    val (expected, genNs) = Stats.time {
      val writeNs = write("snappy", snappy)
      if (a.trace) write("none", none)
      h.report.metric("sources.write_rows_per_s", rows / (writeNs / 1e9), "rows/s")
      val c0 = col("c0")
      val aggs = Seq(sum(c0), count(c0)) ++ ranges.flatMap { case (lo, hi) =>
        val in = c0.between(lo, hi)
        Seq(sum(when(in, c0)), count(when(in, c0)))
      }
      val r = gen.agg(aggs.head, aggs.tail: _*).head()
      (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
    }
    val total = expected(0)
    val rangeSum = (0 until NumRanges).map(i => expected(2 + 2 * i))
    val rangeCount = (0 until NumRanges).map(i => expected(3 + 2 * i))
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(snappy).getFileSystem(conf)
    val orcBytes = fs.listStatus(new Path(snappy)).filter(_.getPath.getName.endsWith(".orc"))
      .map(_.getLen).sum
    val stripes = FastOrcSum.stripeSplits(spark, snappy)
    h.report.check("orc_scan: at least 2 x nproc stripes", stripes.size >= 2 * a.cpus,
      s"${stripes.size} stripes")
    h.report.metric("sources.orc_bytes_per_row", orcBytes.toDouble / rows, "B")
    h.report.info("orc_rows") = rows
    h.report.info("orc_stripes") = stripes.size
    h.report.info("orc_total") = total

    def opNative(op: Long): Boolean = {
      val s = h.tracer.span("GraftEngine.sumFirstColumnFast", "sources")(
        engine.sumFirstColumnFast(snappy))
      h.note(op, "metrics.native_scan_ms", NativeScanTime.drain() / 1e6)
      s == total
    }
    def opFrame(op: Long): Boolean =
      h.tracer.span("GraftEngine.sumFirstColumn", "GraftEngine")(
        engine.sumFirstColumn(snappy)) == total
    def opFiltered(op: Long, i: Int): Boolean = {
      val (lo, hi) = ranges(i)
      val (s, delivered) = h.tracer.span("FastOrcSum.sumFirstLongColumnFiltered", "sources")(
        FastOrcSum.sumFirstLongColumnFiltered(spark, snappy, Some(lo -> hi)))
      h.note(op, "metrics.native_scan_ms", NativeScanTime.drain() / 1e6)
      h.note(op, "sources.rows_delivered", delivered.toDouble)
      s == rangeSum(i) && delivered >= rangeCount(i) && delivered <= rows
    }
    val kinds = Seq("native", "dataframe", "filtered")
    def runPass(pass: Int, traced: Boolean, timed: Boolean): Unit = {
      val r = new Random(a.seed * 7919 + pass)
      r.shuffle(kinds).foreach { kind =>
        val i = r.nextInt(NumRanges)
        val (res, ns, id) = h.op(kind, traced) { op =>
          kind match {
            case "native" => opNative(op)
            case "dataframe" => opFrame(op)
            case _ => opFiltered(op, i)
          }
        }
        val ok = res.getOrElse(false)
        if (timed) h.record(Sample(id, kind, ns, traced, ok))
        else h.report.check(s"warmup $kind", ok)
      }
    }
    (0 until 2).foreach(p => runPass(-1 - p, traced = false, timed = false))
    NativeScanTime.drain()
    h.loop(atLeast = 1)((p, t) => runPass(p, t, timed = true))
    if (a.trace) {
      h.report.metric("metrics.native_scan_ms",
        h.tracedMean(Set("native", "filtered"), "metrics.native_scan_ms"), "ms")
      val delivered = h.tracedMean(Set("filtered"), "sources.rows_delivered")
      h.report.metric("sources.rows_delivered", delivered, "count")
      h.report.metric("sources.skip_ratio", 1 - delivered / rows, "ratio")
      layerProbe(h, snappy, none)
    }
    (genNs / 1e6, h.timedOps(traced = false).size.toDouble * rows)
  }

  /** Scan layer split on the driver thread (traced runs only): footer
    * reads, then single stripes of the snappy file and its uncompressed
    * twin through the operator's own per-stripe loop.
    */
  private def layerProbe(h: Harness, snappy: String, none: String): Unit = {
    val spark = h.spark
    val conf = spark.sessionState.newHadoopConf()
    val footer = (1 to 5).map(_ => Stats.ms(Stats.time(FastOrcSum.stripeSplits(spark, snappy))._2))
    h.report.metric("sources.footer_ms", Stats.median(footer), "ms")
    def rowsOf(s: FastOrcSum.StripeSplit): Long = {
      val r = org.apache.orc.OrcFile.createReader(new Path(s.file),
        org.apache.orc.OrcFile.readerOptions(conf))
      try {
        import scala.jdk.CollectionConverters._
        r.getStripes.asScala.find(_.getOffset == s.offset).map(_.getNumberOfRows).getOrElse(0L)
      } finally r.close()
    }
    // the first stripes of each copy, timed alternately after a warm-up
    // read so JIT and page-cache state favour neither copy
    val sample = Seq(snappy, none).map(p => FastOrcSum.stripeSplits(spark, p).take(4))
    val rows = sample.map(_.map(rowsOf).sum.toDouble)
    def read(s: FastOrcSum.StripeSplit): Double =
      Stats.time(FastOrcSum.sumLongStripes(conf, Seq(s)))._2.toDouble
    sample.flatten.foreach(read)
    val reps = (1 to 5).map(_ => sample.map(_.map(read)))
    /** (median ms per stripe, nanos per row) of copy `i`. */
    def stat(i: Int): (Double, Double) = {
      val perStripe = sample(i).indices.map(j => Stats.median(reps.map(_(i)(j))))
      (Stats.median(perStripe) / 1e6, perStripe.sum / rows(i))
    }
    val (snappyMs, snappyNsRow) = stat(0)
    val (noneMs, noneNsRow) = stat(1)
    h.report.metric("sources.stripe_ms", snappyMs, "ms")
    h.report.metric("sources.stripe_none_ms", noneMs, "ms")
    h.report.metric("sources.decode_rows_per_s", 1e9 / snappyNsRow, "rows/s")
    h.report.metric("sources.decompress_share", 1 - noneNsRow / snappyNsRow, "ratio")
  }
}

package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.table.{SeqIO, SeqTable}

/** Latency samples, totals and the op/check tally of one run. */
final class Meter {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val totals = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val checksRun = mutable.LinkedHashSet.empty[String]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def add(name: String, v: Double): Unit = totals(name) = totals.getOrElse(name, 0.0) + v
  def total(name: String): Double = totals.getOrElse(name, 0.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** the highest of p50/p90/p99 that still has at least ten samples above it */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(0.99 -> "p99", 0.9 -> "p90", 0.5 -> "p50")
      .find { case (q, _) => xs.size * (1 - q) >= 10 }
      .map { case (q, n) => n -> quantile(xs, q) }
}

/** What one run needs: the session, the tracer, the seeded inputs and the tallies. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val inputs: Inputs,
    val tiny: Boolean, val work: Path, val sampler: Option[DriverSampler]) {
  val meter = new Meter
  /** false during set-up: samples are only kept for the measured reps */
  var measuring = false

  /** One operation: traced as a span of `layer`, timed into `metric` while measuring, counted
    * as attempted, and counted as failed when it throws. The exception still propagates, which
    * ends the current rep.
    */
  def op[T](metric: String, layer: String, name: String)(f: => T): T = {
    if (measuring) meter.attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(layer, name)(f)
      if (measuring && metric.nonEmpty) meter.sample(metric, (System.nanoTime() - t0) / 1e9)
      r
    } catch {
      case e: Throwable =>
        if (measuring) meter.failed += 1
        throw e
    }
  }

  /** An output check. Expected values are computed in set-up, outside the timed region; a
    * mismatch counts the operation it belongs to as failed (once) and is reported.
    */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    meter.checksRun += name
    if (!ok && measuring) {
      meter.failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    }
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Tables {
  /** row count and order-independent content hash: the oracle's and the reader's common form */
  def countHash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(doc_id, tokens, n_tok, source))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val d = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d)
    } finally walk.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** name → size of every data file currently in the table's data directory */
  def dataFiles(t: SeqTable): Map[String, Long] =
    if (!Files.exists(t.dataDir)) Map.empty
    else {
      val s = Files.list(t.dataDir)
      try s.iterator().asScala.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString -> Files.size(p)).toMap
      finally s.close()
    }
}

/** Tracks the data files a rep wrote: listed after every write (outside the timed region), so
  * files that a later expiry deletes are still counted.
  */
final class WriteLog(t: SeqTable) {
  private val initial = Tables.dataFiles(t).keySet
  private val written = mutable.Map.empty[String, Long]
  def note(): Unit = Tables.dataFiles(t).foreach { case (n, b) =>
    if (!initial.contains(n)) written(n) = b
  }
  def files: Int = written.size
  def bytes: Long = written.values.sum
}

/** A pruned-scan choice: `source = ? AND n_tok BETWEEN lo AND hi`. */
final case class ScanChoice(source: String, lo: Int, hi: Int)

/** (count, hash) a read set must return on one table state. */
final case class Expected(full: (Long, Long), scans: Seq[(ScanChoice, (Long, Long))],
    lookups: Seq[(Lookup, (Long, Long))])

/** One lookup of 16 live keys and 4 keys that must return nothing. */
final case class Lookup(hits: Seq[String], misses: Seq[String]) {
  def keys: Seq[String] = hits ++ misses
}

/** The read set every workload runs after its writes: pruned scans, 20-key lookups and (where
  * the table can be read whole) one full delete-aware scan.
  */
object ReadSet {
  def choices(in: Inputs): Seq[ScanChoice] = Seq(
    ScanChoice(in.source(0), 256, 1024), // the dominant source, mid lengths
    ScanChoice(in.source(1), 16, 300), // a mid-size source, short sequences
    ScanChoice(in.source(4), 1024, 8192)) // a small source, the long tail

  /** Every expected value of a read set on one oracle state, from a single aggregation. */
  def expect(state: DataFrame, scans: Seq[ScanChoice], lookups: Seq[Lookup]): Expected = {
    val h = expr("xxhash64(doc_id, tokens, n_tok, source)")
    val conds = scans.map(c => col("source") === c.source && col("n_tok").between(c.lo, c.hi)) ++
      lookups.map(l => col("doc_id").isin(l.keys: _*))
    val aggs = (lit(true) +: conds).flatMap(c =>
      Seq(count(when(c, lit(1))), coalesce(bit_xor(when(c, h)), lit(0L))))
    val r = state.agg(aggs.head, aggs.tail: _*).head()
    val pairs = (0 until conds.size + 1).map(i => (r.getLong(2 * i), r.getLong(2 * i + 1)))
    Expected(pairs.head, scans.zip(pairs.slice(1, 1 + scans.size)),
      lookups.zip(pairs.drop(1 + scans.size)))
  }

  /** Runs the read set against `t` and checks each result against the expected values. */
  def run(ctx: Ctx, t: SeqTable, tag: String, exp: Expected, fullScan: Boolean): Unit = {
    val spark = ctx.spark
    exp.scans.foreach { case (c, want) =>
      val (got, st) = ctx.op("scan_pruned_s", "table.io", "SeqIO.scanPruned") {
        val (df, st) = SeqIO.scanPruned(spark, t, Some(c.source), Some(c.lo), Some(c.hi))
        (Tables.countHash(df), st)
      }
      if (ctx.measuring) {
        ctx.meter.add("scan.files_opened", st.filesScanned)
        ctx.meter.add("scan.files_live", st.totalFiles)
      }
      ctx.check(s"$tag pruned scan", got == want, s"$c got $got expected $want")
    }
    exp.lookups.foreach { case (l, want) =>
      val (got, st) = ctx.op("lookup_s", "table.io", "SeqIO.lookupKeys") {
        val (df, st) = SeqIO.lookupKeys(spark, t, l.keys)
        (Tables.countHash(df), st)
      }
      if (ctx.measuring) ctx.meter.add("lookup.files_opened", st.filesScanned)
      ctx.check(s"$tag lookup", got == want && got._1 == l.hits.size,
        s"got $got expected $want with ${l.hits.size} live keys")
    }
    if (fullScan) {
      val got = ctx.op("scan_full_s", "table.io", "SeqIO.read") {
        Tables.countHash(SeqIO.read(spark, t))
      }
      ctx.check(s"$tag full scan", got == exp.full, s"got $got expected ${exp.full}")
      if (ctx.tracer.enabled && ctx.measuring && t.currentSnapshot().deleteManifests.nonEmpty) {
        // the delete tax: the same full scan without applying the pending deletes
        val snap = t.currentSnapshot()
        val (_, plain) = ctx.time(ctx.tracer.span("table.io", "SeqIO.readFiles (no deletes)")(
          Tables.countHash(SeqIO.readFiles(spark, t, t.liveFilesNarrow(snap)))))
        ctx.meter.sample("io.delete_tax_s", ctx.meter.samples("scan_full_s").last - plain)
      }
    }
  }
}

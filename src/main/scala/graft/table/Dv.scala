package graft.table

import java.util.Base64
import scala.jdk.CollectionConverters._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Position deletion vectors — the PHYSICAL-position complement to the engine's equality
  * deletes (the Delta Lake deletion-vector / Iceberg-v3 position-delete model, public designs).
  *
  * A DV names deleted row ORDINALS of one immutable data file (the parquet `_metadata.row_index`
  * hidden column), so applying it at read time is a per-row bitmap probe — no join, no shuffle,
  * no key broadcast beyond the (run-length-compressed) bitmaps themselves — where equality
  * deletes cost an anti-join against the key set. The two coexist: `delete-<seq>-*.keys`
  * manifests carry equality keys, `delete-<seq>-*.dv` manifests carry position bitmaps, and both
  * share the snapshot's `deleteManifests` lifecycle (carry-forward, expiry, conflict fences).
  *
  * Encoding: positions are maximal runs `[start, endExcl)`; the byte form is
  * varint(runCount) then per run varint(gap from previous end) varint(len-1) — compact for both
  * sparse scatter deletes (~2 B/position) and dense range deletes (~4 B/run), with none of
  * roaring's container machinery (no external deps in this build). A manifest line is
  * `basename \t cardinality \t base64(runs)`; cardinality up front lets the maintenance
  * planner's delete-pressure score read EXACT per-file counts without decoding a bitmap.
  *
  * Decoded form everywhere below: a flattened long array `[s0, e0, s1, e1, …]` of
  * strictly-increasing non-adjacent runs (`e(i) < s(i+1)`), ends exclusive.
  */
object Dv {

  /** Runs from sorted-distinct ascending positions. */
  def fromPositions(sorted: Array[Long]): Array[Long] = {
    if (sorted.isEmpty) return Array.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var start = sorted(0)
    var end = start + 1
    var i = 1
    while (i < sorted.length) {
      val p = sorted(i)
      require(p >= end - 1, s"Dv.fromPositions: input not sorted-distinct at index $i")
      if (p == end) end += 1
      else if (p > end) { out += start; out += end; start = p; end = p + 1 }
      i += 1
    }
    out += start; out += end
    out.toArray
  }

  def cardinality(runs: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < runs.length) { s += runs(i + 1) - runs(i); i += 2 }
    s
  }

  /** Membership probe: binary search over run starts — O(log R) per row, allocation-free. */
  def contains(runs: Array[Long], pos: Long): Boolean = {
    var lo = 0
    var hi = runs.length >>> 1 // run count
    while (lo < hi) { // find first run with start > pos
      val mid = (lo + hi) >>> 1
      if (runs(mid << 1) <= pos) lo = mid + 1 else hi = mid
    }
    lo > 0 && pos < runs(((lo - 1) << 1) + 1)
  }

  /** Union of two run lists (both normalized) — normalized result, runs merged/coalesced. */
  def unionRuns(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var ia = 0
    var ib = 0
    var curS = 0L
    var curE = -1L // curE < 0 = no open run
    def push(s: Long, e: Long): Unit = {
      if (curE < 0) { curS = s; curE = e }
      else if (s <= curE) { if (e > curE) curE = e }
      else { out += curS; out += curE; curS = s; curE = e }
    }
    while (ia < a.length || ib < b.length) {
      if (ib >= b.length || (ia < a.length && a(ia) <= b(ib))) { push(a(ia), a(ia + 1)); ia += 2 }
      else { push(b(ib), b(ib + 1)); ib += 2 }
    }
    if (curE >= 0) { out += curS; out += curE }
    out.toArray
  }

  def positionsIterator(runs: Array[Long]): Iterator[Long] =
    (0 until runs.length by 2).iterator.flatMap(i => (runs(i) until runs(i + 1)).iterator)

  // ---- byte codec -------------------------------------------------------------------------

  private def writeVarint(buf: scala.collection.mutable.ArrayBuffer[Byte], v0: Long): Unit = {
    var v = v0
    require(v >= 0, s"Dv varint: negative $v")
    while ((v & ~0x7fL) != 0) { buf += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
    buf += v.toByte
  }

  def encode(runs: Array[Long]): Array[Byte] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    writeVarint(buf, runs.length >>> 1)
    var prevEnd = 0L
    var i = 0
    while (i < runs.length) {
      writeVarint(buf, runs(i) - prevEnd) // gap from previous end (first: absolute start)
      writeVarint(buf, runs(i + 1) - runs(i) - 1) // len - 1 (runs are non-empty)
      prevEnd = runs(i + 1)
      i += 2
    }
    buf.toArray
  }

  def decode(bytes: Array[Byte]): Array[Long] = {
    var pos = 0
    def readVarint(): Long = {
      var v = 0L
      var shift = 0
      var b = 0
      do {
        b = bytes(pos) & 0xff
        pos += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      v
    }
    val n = readVarint().toInt
    val runs = new Array[Long](n * 2)
    var prevEnd = 0L
    var i = 0
    while (i < n) {
      val start = prevEnd + readVarint()
      val end = start + readVarint() + 1
      runs(i * 2) = start
      runs(i * 2 + 1) = end
      prevEnd = end
      i += 1
    }
    runs
  }

  // ---- manifest line codec ----------------------------------------------------------------

  def formatLine(basename: String, runs: Array[Long]): String = {
    require(!basename.contains('\t') && !basename.contains('\n'),
      s"Dv: unencodable basename '$basename'")
    s"$basename\t${cardinality(runs)}\t${Base64.getEncoder.encodeToString(encode(runs))}"
  }

  /** (basename, cardinality, encoded runs). Fails loudly on malformed lines — a truncated DV
    * silently resurrecting rows is the one failure mode this format must never have.
    */
  def parseLine(line: String): (String, Long, Array[Byte]) = {
    val t1 = line.indexOf('\t')
    val t2 = line.indexOf('\t', t1 + 1)
    require(t1 > 0 && t2 > t1, s"Dv: malformed manifest line '${line.take(80)}'")
    (line.substring(0, t1), line.substring(t1 + 1, t2).toLong,
      Base64.getDecoder.decode(line.substring(t2 + 1)))
  }

  /** (basename, cardinality) only — the planner's delete-pressure read needs no bitmap bytes. */
  def parseLineHeader(line: String): (String, Long) = {
    val t1 = line.indexOf('\t')
    val t2 = line.indexOf('\t', t1 + 1)
    require(t1 > 0 && t2 > t1, s"Dv: malformed manifest line '${line.take(80)}'")
    (line.substring(0, t1), line.substring(t1 + 1, t2).toLong)
  }

  /** Every line header of `table`'s `.dv` manifests `names`, read on the driver. */
  def headers(table: SeqTable, names: Seq[String]): Seq[(String, Long)] =
    names.flatMap(n => java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(table.deleteManifestPath(n))).asScala.map(parseLineHeader))
}

/** Executor-side DV probe state: the broadcast basename → encoded-bitmap(s) map plus a
  * per-executor decode cache (decode + multi-DV union happen once per file per executor, not per
  * row). Rows arrive with the scan's constant-per-file `_metadata` basename, so the cache has one
  * entry per file the executor actually reads.
  */
final class DvIndex(bc: Broadcast[Map[String, Array[Array[Byte]]]]) extends Serializable {
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[UTF8String, Array[Long]]()
  private[this] val Empty = Array.empty[Long]

  def hidden(fn: UTF8String, pos: Long): Boolean = {
    var runs = cache.get(fn)
    if (runs == null) {
      val encs = bc.value.getOrElse(fn.toString, null)
      runs = if (encs == null) Empty else encs.map(Dv.decode).reduce(Dv.unionRuns)
      // clone: a vectorized-reader UTF8String may point into a reused buffer; the stored key
      // must own its bytes (probe keys compare by content either way)
      cache.put(fn.clone(), runs)
    }
    runs.length > 0 && Dv.contains(runs, pos)
  }
}

/** Codegen'd Catalyst expression `dv_hidden(fileBasename: string, rowIndex: long): boolean` —
  * the DV read filter stays inside whole-stage codegen: one static-shaped virtual call per row
  * into [[DvIndex.hidden]] (cached-decode bitmap binary search), no join in the plan.
  */
case class DvHiddenExpr(left: Expression, right: Expression, index: DvIndex)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "dv_hidden"
  override protected def nullSafeEval(fn: Any, pos: Any): Any =
    index.hidden(fn.asInstanceOf[UTF8String], pos.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvIndex", index, classOf[DvIndex].getName)
    defineCodeGen(ctx, ev, (f, p) => s"$ref.hidden($f, $p)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DvHiddenExpr =
    copy(left = l, right = r)
}

object DvHiddenExpr {
  def column(fileBasename: Column, rowIndex: Column, index: DvIndex): Column =
    GraftSqlBridge.column(DvHiddenExpr(
      GraftSqlBridge.expression(fileBasename), GraftSqlBridge.expression(rowIndex), index))
}

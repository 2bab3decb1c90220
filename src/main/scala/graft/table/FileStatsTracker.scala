package graft.table

import java.io.ByteArrayOutputStream
import scala.collection.mutable
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats,
  WriteTaskStatsTracker}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** The manifest stats of one written data file, built while its rows streamed to the writer.
  * `sources` holds up to [[SeqIO.MaxSourcesTracked]] + 1 of the smallest distinct sources, so
  * an overflow stays detectable; `sourceZones` are the file's [[SourceZones]] triples;
  * `docBloom` is the serialized [[DocBloom]] filter. `partition` is the index of the write task
  * that wrote the file.
  */
final case class WrittenFileStats(records: Long, minNtok: Int, maxNtok: Int,
    minDocId: String, maxDocId: String, sources: Seq[String], sourceZones: Seq[Int],
    docBloom: Array[Byte], partition: Int)

/** One write task's files, keyed by basename: task attempts write under the committer's
  * `_temporary` directory, and only the basename survives the commit unchanged.
  */
final case class TaskFileStats(files: Map[String, WrittenFileStats]) extends WriteTaskStats

/** Collects [[FileMeta]] stats inside the write tasks (the way Delta's
  * `DeltaJobStatisticsTracker` does): each task folds the rows it hands the parquet writer into
  * per-file accumulators, and the driver receives the results with the job's commit — no second
  * scan of the written files. Ordinals locate `doc_id`, `n_tok` and `source` in the written
  * rows. Nulls are skipped, as Spark's min/max/collect_set skip them; a row's [[SourceZones]]
  * bucket and n_tok fold in the same pass.
  */
final class FileStatsTracker(docOrd: Int, ntokOrd: Int, srcOrd: Int)
    extends WriteJobStatsTracker {
  @transient private var collected: Map[String, WrittenFileStats] = Map.empty

  /** Stats of every file the committed job wrote, by basename (empty before the commit). */
  def files: Map[String, WrittenFileStats] = collected

  override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    private val accs = mutable.LinkedHashMap.empty[String, FileAcc]
    def newPartition(partitionValues: InternalRow): Unit = ()
    def newFile(filePath: String): Unit = accs(filePath) = new FileAcc
    def closeFile(filePath: String): Unit = ()
    def newRow(filePath: String, row: InternalRow): Unit = accs(filePath).add(row)
    def getFinalStats(taskCommitTime: Long): WriteTaskStats = TaskFileStats(accs.map {
      case (p, a) => p.substring(p.lastIndexOf('/') + 1) -> a.result(TaskContext.getPartitionId())
    }.toMap)
  }

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    collected = stats.flatMap { case TaskFileStats(fs) => fs }.toMap

  private final class FileAcc {
    private var records = 0L
    private var minNtok = Int.MaxValue
    private var maxNtok = Int.MinValue
    // the row buffer is reused between rows: every kept UTF8String is a clone
    private var minDoc: UTF8String = _
    private var maxDoc: UTF8String = _
    private val sources = new java.util.TreeSet[UTF8String]()
    private val zones = new SourceZones.Acc
    private val bloom = BloomFilter.create(DocBloom.ExpectedItems, DocBloom.Fpp)

    def add(row: InternalRow): Unit = {
      records += 1
      val hasNtok = !row.isNullAt(ntokOrd)
      val n = if (hasNtok) row.getInt(ntokOrd) else 0
      if (hasNtok) {
        if (n < minNtok) minNtok = n
        if (n > maxNtok) maxNtok = n
      }
      if (!row.isNullAt(docOrd)) {
        val d = row.getUTF8String(docOrd)
        if (minDoc == null || d.compareTo(minDoc) < 0) minDoc = d.clone()
        if (maxDoc == null || d.compareTo(maxDoc) > 0) maxDoc = d.clone()
        bloom.putBinary(d.getBytes)
      }
      if (!row.isNullAt(srcOrd)) {
        val s = row.getUTF8String(srcOrd)
        zones.add(s, n, hasNtok)
        if ((sources.size <= SeqIO.MaxSourcesTracked || s.compareTo(sources.last) < 0) &&
            !sources.contains(s)) {
          sources.add(s.clone())
          if (sources.size > SeqIO.MaxSourcesTracked + 1) sources.pollLast()
        }
      }
    }

    def result(partition: Int): WrittenFileStats = {
      val out = new ByteArrayOutputStream()
      bloom.writeTo(out)
      WrittenFileStats(records, minNtok, maxNtok, Option(minDoc).map(_.toString).orNull,
        Option(maxDoc).map(_.toString).orNull,
        sources.toArray(Array.empty[UTF8String]).map(_.toString).toSeq, zones.result,
        out.toByteArray, partition)
    }
  }
}

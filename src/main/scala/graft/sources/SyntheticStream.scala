package graft.sources

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The STREAMING third of the connector matrix ([[SyntheticEvents]] batch
  * read, [[MemTable]]/[[DigestSink]] batch write): a DataSource V2
  * MicroBatchStream over the same deterministic id-arithmetic rows, so the
  * DuckDB oracle regenerates every row the stream ever emits.
  *
  * The part a real connector (Kafka, Kinesis, a CDC log) must get right is
  * OFFSET semantics, and that is what this source exercises end to end:
  *
  *   - offsets are plain positions in the id space; `latestOffset(start,
  *     limit)` advances by at most `batchRows` per micro-batch
  *     ([[SupportsAdmissionControl]] — rate limiting is the source's job,
  *     not the engine's), so one run takes ceil(rows/batchRows) batches,
  *     not one giant batch;
  *   - [[SupportsTriggerAvailableNow]] pins the run's END at the offset
  *     observed when the query starts — the contract that makes
  *     `Trigger.AvailableNow` deterministic on a live source;
  *   - `planInputPartitions(start, end)` slices only the [start, end)
  *     batch range — state never re-reads history, exactly like a Kafka
  *     range fetch;
  *   - offsets round-trip through json (`deserializeOffset`) because the
  *     checkpoint, not the JVM, owns progress — restart recovery (st11)
  *     rests on this.
  */
class SyntheticStream extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SyntheticEvents.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SynthStreamTable(
      properties.getOrDefault("rows", "100000").toLong,
      properties.getOrDefault("batchRows", "4096").toLong)
  override def supportsExternalMetadata(): Boolean = false
}

private[sources] class SynthStreamTable(rows: Long, batchRows: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft_synthetic_stream($rows)"
  override def schema(): StructType = SyntheticEvents.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = SyntheticEvents.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new SynthMicroBatchStream(rows, batchRows)
        override def description(): String =
          s"GraftSynthStream(rows=$rows, batchRows=$batchRows)"
      }
    }
}

/** Offset = position in the id space. json round-trip is the whole point:
  * the checkpoint owns progress, the JVM owns nothing. */
private[sources] case class SynthOffset(pos: Long) extends Offset {
  override def json(): String = pos.toString
}

private[sources] class SynthMicroBatchStream(rows: Long, batchRows: Long)
    extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // end of the run, captured when AvailableNow prepares the query; a live
  // source would snapshot its current high-watermark here
  @volatile private var availableEnd: Long = rows

  override def initialOffset(): Offset = SynthOffset(0L)
  override def deserializeOffset(json: String): Offset =
    SynthOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // SupportsAdmissionControl owns pacing; the parameterless variant is
  // only called on sources without admission control
  override def latestOffset(): Offset =
    sys.error("admission-controlled source: latestOffset(start, limit)")
  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(batchRows)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SynthOffset].pos
    SynthOffset(math.min(s + batchRows, availableEnd))
  }
  override def reportLatestOffset(): Offset = SynthOffset(availableEnd)
  override def prepareForTriggerAvailableNow(): Unit = availableEnd = rows

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[SynthOffset].pos,
      end.asInstanceOf[SynthOffset].pos)
    // two slices per batch: proves batch-internal parallelism without
    // flooding the scheduler at small batch sizes
    val mid = s + (e - s) / 2
    Seq((s, mid), (mid, e)).filter { case (a, b) => a < b }
      .map { case (a, b) =>
        SynthSlice(a, b, SyntheticEvents.schema): InputPartition }
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new SynthReaderFactory
}

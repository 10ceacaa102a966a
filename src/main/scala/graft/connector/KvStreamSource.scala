package graft.connector

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Streaming READ of the KV log: `spark.readStream.format("kvtable")`.
  *
  * The log is append-only immutable parquet files, so a stream offset is
  * simply the SET of data files seen (relative paths — tables stay
  * relocatable); each micro-batch plans exactly the files added since
  * the last offset, through the same manifest-stats row-group planner
  * as the batch scan. This is the "HBase as a change feed" capability a
  * training-data pipeline wants: writers keep appending (upserts,
  * tombstones), a downstream stream incrementally processes only new
  * mutations — e.g. feeding the streamed LWW upsert of
  * `stream_kv_source` or a stateful dedup.
  *
  * Contract: the table must be treated append-only while a stream reads
  * it. Compaction/truncation REPLACES files; a restarted stream whose
  * checkpoint predates a compaction would re-read rewritten rows (the
  * same contract file-stream sources place on their input directories).
  * Offsets scale with file count; at 10^5-file scale an offset would
  * switch to the manifest's commit lineage instead — the format keeps
  * that door open (segments are per-commit).
  */
class KvMicroBatchStream(path: String, required: StructType,
                         pushed: Array[Filter], fullSchema: StructType,
                         conf: Configuration)
    extends MicroBatchStream {

  private def currentFiles: Seq[String] =
    KvV2Util.dataFiles(path, conf)
      .map(f => KvStats.relativize(path, f.getPath, conf)).sorted

  override def initialOffset(): Offset = KvFilesOffset(Seq.empty)

  override def latestOffset(): Offset = KvFilesOffset(currentFiles)

  override def deserializeOffset(json: String): Offset =
    KvFilesOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[KvFilesOffset].files.toSet
    val target = end.asInstanceOf[KvFilesOffset].files.toSet
    val newRel = (target -- seen)
    if (newRel.isEmpty) Array.empty
    else {
      val newFiles = KvV2Util.dataFiles(path, conf)
        .filter(f => newRel.contains(KvStats.relativize(path, f.getPath, conf)))
      KvV2Util.planPartitions(path, conf, newFiles, pushed, fullSchema)
        .map(p => p: InputPartition)
    }
  }

  // one broadcast for the stream's life, not one per micro-batch
  private lazy val sharedConf = KvHadoopConf.broadcast(conf)

  override def createReaderFactory(): PartitionReaderFactory =
    new KvReaderFactory(required, sharedConf)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"KvMicroBatchStream($path)"
}

/** Offset = the set of data files (relative paths) already processed. */
case class KvFilesOffset(files: Seq[String]) extends Offset {
  override def json(): String = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    val arr = root.putArray("files")
    files.foreach(arr.add)
    mapper.writeValueAsString(root)
  }
}

object KvFilesOffset {
  def fromJson(json: String): KvFilesOffset = {
    val node = new ObjectMapper().readTree(json)
    KvFilesOffset(node.get("files").elements().asScala
      .map(_.asText()).toSeq.sorted)
  }
}

package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types._

/** Out-of-line blob storage (reference: `lance-encoding:blob=true`
  * columns, BlobUtils.java:23-57; declared via table property
  * `blob_columns`, LanceTableProperties.java:32,44-48).
  *
  * A blob column is BinaryType in the logical schema; physically the
  * fragment stores a descriptor struct (file, pos, size) and the bytes
  * live in append-only sidecar files under `data/blobs/`. Scans never
  * materialize content — the column reads back as empty bytes, with
  * `<col>__blob_pos` / `<col>__blob_size` virtual columns exposing the
  * descriptor (reference behavior: blob struct reads back as empty,
  * LanceArrowToPageScanner.java:571-581; virtual columns
  * BlobUtils.java:26-27,70-78). Content access is explicit random I/O
  * via [[fetch]] — the point of the design at 100 TB: analytic scans
  * stay columnar and small, media bytes are fetched per-row on demand.
  * All I/O goes through Hadoop [[FileSystem]] (object-store ready).
  */
object BlobStore {

  val BlobDirName = "data/blobs"

  def posColumn(col: String): String = s"${col}__blob_pos"
  def sizeColumn(col: String): String = s"${col}__blob_size"

  val descriptorType: StructType = StructType(Seq(
    StructField("file", StringType, nullable = true),
    StructField("pos", LongType, nullable = true),
    StructField("size", LongType, nullable = true)))

  /** Physical fragment schema: blob BinaryType fields replaced by the
    * descriptor struct. */
  def physicalSchema(logical: StructType, blobCols: Seq[String]): StructType =
    StructType(logical.fields.map { f =>
      if (blobCols.contains(f.name)) {
        require(f.dataType == BinaryType,
          s"blob column ${f.name} must be BINARY, got ${f.dataType.sql}")
        StructField(f.name, descriptorType, f.nullable)
      } else f
    })

  /** Rewrite a DataFrame for writing: blob bytes appended to one sidecar
    * file per partition (sequential I/O), values replaced by descriptors.
    * Fully distributed; the sidecar files live under the table dir and
    * are invisible to readers until the manifest commits. */
  def encode(df: DataFrame, blobCols: Seq[String], tableDir: Path): DataFrame = {
    if (blobCols.isEmpty) return df
    val schema = df.schema
    val physical = physicalSchema(schema, blobCols)
    val blobIdx = blobCols.map(schema.fieldIndex).toSet
    val blobDirStr = new Path(tableDir, BlobDirName).toString
    val sconf = graft.connector.SharedConf.broadcast(
      df.sparkSession.sparkContext, df.sparkSession.sessionState.newHadoopConf())
    val enc = RowEncoder.encoderFor(physical)
    df.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val blobDir = new Path(blobDirStr)
        val fs = blobDir.getFileSystem(sconf.value.value)
        fs.mkdirs(blobDir)
        val name = java.util.UUID.randomUUID().toString + ".bin"
        val rel = s"$BlobDirName/$name"
        val out = fs.create(new Path(blobDir, name), false)
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => out.close()))
        var pos = 0L
        rows.map { r =>
          val vals = new Array[Any](r.length)
          var i = 0
          while (i < r.length) {
            vals(i) =
              if (blobIdx(i)) {
                val bytes = r.getAs[Array[Byte]](i)
                if (bytes == null) Row(null, null, null)
                else {
                  val start = pos
                  out.write(bytes)
                  pos += bytes.length
                  Row(rel, start, bytes.length.toLong)
                }
              } else r.get(i)
            i += 1
          }
          Row(vals.toIndexedSeq: _*)
        }
      }
    }(enc)
  }

  /** Random-access content fetch by descriptor. */
  def fetch(fs: FileSystem, tableDir: Path, file: String, pos: Long,
      size: Long): Array[Byte] = {
    val in = fs.open(new Path(tableDir, file))
    try {
      val buf = new Array[Byte](size.toInt)
      in.readFully(pos, buf)
      buf
    } finally in.close()
  }
}

package graft.engine

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.commons.io.IOUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/**
 * Differential of the create seam ([[FileCreate]]) against Hadoop's own
 * `LocalFileSystem` create: for a control file and for a Parquet chunk,
 * under umask 022 and 077, the seam's file has the same data bytes, the
 * same `.crc` sidecar and the same permission bits, and reads back through
 * the configured file system with checksum verification on. The chunks a
 * produce commits on either produce path are the files Spark's
 * `ParquetOutputWriter` writes for the same rows on the write session's
 * conf.
 */
class FileCreateSpec extends SparkSpec {

  private def hc = spark.sparkContext.hadoopConfiguration

  private val Umasks = Seq("022" -> "rw-r--r--", "077" -> "rw-------")

  /** A conf whose local file system is a fresh instance with `umask`. */
  private def withUmask(base: Configuration, umask: String): Configuration = {
    val conf = new Configuration(base)
    conf.set("fs.permissions.umask-mode", umask)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf
  }

  private def localFs(conf: Configuration): LocalFileSystem =
    FileSystem.get(URI.create("file:///"), conf).asInstanceOf[LocalFileSystem]

  private def tempDir(): Path =
    new Path(Files.createTempDirectory("graft-file-create").toUri)

  private def onDisk(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)
  private def crcOf(p: Path): java.nio.file.Path =
    onDisk(p).resolveSibling(s".${p.getName}.crc")
  private def perms(f: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f))

  private def readBack(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try IOUtils.toByteArray(in) finally in.close()
  }

  /** `ours` is `theirs` on disk: data bytes, sidecar bytes and the
    * permission bits of both; and `fs` reads `ours` back, verifying its
    * checksums. */
  private def assertSameFile(fs: LocalFileSystem, ours: Path, theirs: Path): Unit = {
    val data = Files.readAllBytes(onDisk(ours))
    assert(data.sameElements(Files.readAllBytes(onDisk(theirs))), s"data of $ours")
    assert(Files.readAllBytes(crcOf(ours)).sameElements(Files.readAllBytes(crcOf(theirs))),
      s"sidecar of $ours")
    assert(perms(onDisk(ours)) == perms(onDisk(theirs)), s"permissions of $ours")
    assert(perms(crcOf(ours)) == perms(crcOf(theirs)), s"sidecar permissions of $ours")
    assert(fs.getVerifyChecksum)
    assert(readBack(fs, ours).sameElements(data))
  }

  private def randomBytes(n: Int, seed: Long): Array[Byte] = {
    val b = new Array[Byte](n)
    new scala.util.Random(seed).nextBytes(b)
    b
  }

  Umasks.foreach { case (umask, expected) =>
    test(s"a control file through the seam is Hadoop's file (umask $umask)") {
      val fs = localFs(withUmask(hc, umask))
      val dir = tempDir()
      val (ours, theirs) = (new Path(dir, "ours.json"), new Path(dir, "theirs.json"))
      assert(FileCreate.resolve(fs, ours)._1 ne fs, "the seam serves a local warehouse")
      // several checksum chunks (512 bytes each) and a partial last one
      val bytes = randomBytes(5000, seed = 11)
      val out = fs.create(theirs, true)
      try out.write(bytes) finally out.close()
      FileCreate.write(fs, ours, bytes)
      assertSameFile(fs, ours, theirs)
      assert(perms(onDisk(ours)) == expected)
      // an empty marker too
      val (m1, m2) = (new Path(dir, "m1"), new Path(dir, "m2"))
      fs.create(m2, true).close()
      FileCreate.touch(fs, m1)
      assertSameFile(fs, m1, m2)
      // create without overwrite refuses an existing file, as Hadoop's does
      intercept[FileAlreadyExistsException](FileCreate(fs, ours, overwrite = false))
      intercept[FileAlreadyExistsException](fs.create(theirs, false))
    }
  }

  test("overwriting a path with a stale sidecar leaves a readable file") {
    val fs = localFs(withUmask(hc, "022"))
    val dir = tempDir()
    val p = new Path(dir, "_topic.json")
    val long = randomBytes(3000, seed = 12)
    val out = fs.create(p, true)
    try out.write(long) finally out.close()
    // a shorter overwrite: the sidecar of the longer file must not survive
    val short = "{\"0\":7}".getBytes("UTF-8")
    FileCreate.write(fs, p, short)
    assert(readBack(fs, p).sameElements(short))
    // the data file gone behind the file system's back, its sidecar left
    Files.delete(onDisk(p))
    assert(Files.exists(crcOf(p)))
    val next = randomBytes(700, seed = 13)
    FileCreate.write(fs, p, next)
    assert(readBack(fs, p).sameElements(next))
    val fresh = new Path(dir, "fresh.json")
    val o = fs.create(fresh, true)
    try o.write(next) finally o.close()
    assertSameFile(fs, p, fresh)
  }

  /** The write session's job conf, prepared by Spark's Parquet format
    * exactly as a produce prepares it, with `tune` applied first. */
  private def chunkJob(tune: Configuration => Configuration = identity) = {
    val ws = Producer.writeSession(spark)
    val job = Job.getInstance(tune(Shims.newHadoopConf(ws)))
    val factory = new ParquetFileFormat().prepareWrite(ws, job, Map.empty, Producer.ChunkSchema)
    val ctx = new TaskAttemptContextImpl(new JobConf(job.getConfiguration),
      new TaskAttemptID("graft", 0, TaskType.MAP, 0, 0))
    (factory, ctx)
  }

  /** Chunk rows `(event_id, metadata, data)`, as the chunk writer emits them. */
  private def chunkRows(rows: Seq[Row]): Seq[InternalRow] = rows.map { r =>
    new GenericInternalRow(Array[Any](r.getLong(0),
      if (r.isNullAt(1)) null else UTF8String.fromString(r.getString(1)),
      if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)))
  }

  private def sampleRows(n: Int): Seq[Row] = (0 until n).map { i =>
    Row(1000L + i, if (i % 9 == 0) null else s"""{"i":$i,"k":"${"x" * (i % 13)}"}""",
      if (i % 4 == 0) null else randomBytes(64, seed = i))
  }

  /** Writes `rows` to `ours` through the produce's chunk writer and to
    * `theirs` through Spark's `ParquetOutputWriter`, on one prepared conf. */
  private def writeBoth(rows: Seq[InternalRow], ours: Path, theirs: Path,
                        tune: Configuration => Configuration = identity): Unit = {
    val (factory, ctx) = chunkJob(tune)
    val w = Producer.chunkWriter(ours, ctx)
    try rows.foreach(w.write(null, _)) finally w.close(ctx)
    val ref = factory.newInstance(theirs.toString, Producer.ChunkSchema, ctx)
    try rows.foreach(ref.write) finally ref.close()
  }

  private def footer(p: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, hc))
    try r.getFooter finally r.close()
  }

  /** The footer facts a reader of the log depends on. */
  private def assertSameFooter(ours: Path, theirs: Path): Unit = {
    val (a, b) = (footer(ours), footer(theirs))
    assert(a.getFileMetaData.getSchema == b.getFileMetaData.getSchema)
    assert(a.getFileMetaData.getKeyValueMetaData == b.getFileMetaData.getKeyValueMetaData)
    val (ba, bb) = (a.getBlocks.asScala.toSeq, b.getBlocks.asScala.toSeq)
    assert(ba.map(_.getRowCount) == bb.map(_.getRowCount))
    ba.zip(bb).foreach { case (x, y) =>
      x.getColumns.asScala.zip(y.getColumns.asScala).foreach { case (cx, cy) =>
        assert(cx.getPath == cy.getPath)
        assert(cx.getCodec == cy.getCodec, cx.getPath)
        assert(cx.getEncodings == cy.getEncodings, cx.getPath)
        if (cx.getPath.toDotString == "event_id")
          assert(cx.getStatistics == cy.getStatistics)
      }
    }
  }

  Umasks.foreach { case (umask, expected) =>
    test(s"a chunk through the seam is the file ParquetOutputWriter writes (umask $umask)") {
      val dir = tempDir()
      val (ours, theirs) = (new Path(dir, "partition=0/ours.snappy.parquet"),
        new Path(dir, "partition=0/theirs.snappy.parquet"))
      writeBoth(chunkRows(sampleRows(1000)), ours, theirs, withUmask(_, umask))
      assert(FileCreate.path(ours, withUmask(hc, umask)) ne ours, "the seam serves the chunk")
      assertSameFile(localFs(withUmask(hc, umask)), ours, theirs)
      assertSameFooter(ours, theirs)
      assert(perms(onDisk(ours)) == expected)
    }
  }

  ProduceInput.Both.foreach { in =>
    test(s"every committed chunk is what ParquetOutputWriter writes for its rows [${in.label}]") {
      import spark.implicits._
      val d = new GraftDriver(spark, Files.createTempDirectory("graft-file-create-wh").toString)
      d.createTopic("t", partitions = 4)
      val producer = d.openTopic("t").producer(chunkMaxRecords = 100)
      val rows = (0 until 1000).map(i => (s"""{"i":$i}""",
        if (i % 5 == 0) null else randomBytes(128, seed = i), i % 4)).toDF("metadata", "data", "partition")
      in.run(spark)(producer.produce(in(rows))): Unit
      val fs = new Path(d.warehouse).getFileSystem(hc).asInstanceOf[LocalFileSystem]
      val m = d.catalog.readManifest("t").get
      val chunks = m.files.toSeq.flatMap(_._2).map(f => new Path(d.catalog.logPath("t"), f.path))
      assert(chunks.size == 4 * 3, chunks) // 250 events a partition, 100 a file
      val ref = tempDir()
      chunks.foreach { chunk =>
        val stored = spark.read.parquet(chunk.toString).orderBy("event_id").collect().toSeq
        val theirs = new Path(ref, s"${chunk.getParent.getName}/${chunk.getName}")
        val (factory, ctx) = chunkJob()
        val w = factory.newInstance(theirs.toString, Producer.ChunkSchema, ctx)
        try chunkRows(stored).foreach(w.write) finally w.close()
        assertSameFile(fs, chunk, theirs)
        assertSameFooter(chunk, theirs)
      }
    }
  }
}

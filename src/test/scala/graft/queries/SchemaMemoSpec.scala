package graft.queries

import java.io.{File, FileOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Q.t]]'s schema memo follows the table's files, not just its path. */
class SchemaMemoSpec extends SparkSpec {

  test("a directory table rewritten in place is read with its new schema") {
    val sfDir = Files.createTempDirectory("graft-schema-memo").toFile
    val table = new File(sfDir, "tbl.parquet")
    spark.range(3).coalesce(1).write.parquet(table.toString)
    assert(Q.t(spark, sfDir.toString, "tbl").columns.toSeq == Seq("id"))

    // the same part file overwritten under its old name, the directory's
    // entries (and so its mtime) untouched
    val part = table.listFiles().filter(_.getName.endsWith(".parquet")).head
    val dirMtime = table.lastModified()
    val staged = new File(sfDir, "staged")
    spark.range(3).select(col("id"), (col("id") * 10).as("x"))
      .coalesce(1).write.parquet(staged.toString)
    val fresh = staged.listFiles().filter(_.getName.endsWith(".parquet")).head
    val out = new FileOutputStream(part, false)
    try out.write(Files.readAllBytes(fresh.toPath)) finally out.close()
    new File(table, s".${part.getName}.crc").delete()
    assert(table.setLastModified(dirMtime))

    val df = Q.t(spark, sfDir.toString, "tbl")
    assert(df.columns.toSeq == Seq("id", "x"))
    assert(df.orderBy("id").select("x").collect().map(_.getLong(0)).toSeq == Seq(0L, 10L, 20L))
  }
}

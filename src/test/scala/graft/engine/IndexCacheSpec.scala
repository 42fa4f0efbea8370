package graft.engine

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkSpec

/** [[IndexCache]]: rows are cached only under the signature they were read
  * with, and a full cache evicts its oldest entry. */
class IndexCacheSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("v", StringType)))

  private def fs: FileSystem = FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def writeIndex(dir: Path, v: String): Unit = {
    import spark.implicits._
    Seq(v).toDF("v").coalesce(1).write.parquet(dir.toString)
  }

  test("an install swapped in between signature and collect is not cached") {
    val base = new Path(Files.createTempDirectory("graft-index-cache").toString)
    val dir = new Path(base, "idx")
    val aside = new Path(base, "idx.a")
    val other = new Path(base, "idx.b")
    writeIndex(dir, "A")
    writeIndex(other, "B")
    // the miss reads its signature off A's files, then an install puts B in
    IndexCache.afterSignature = d => {
      assert(fs.rename(d, aside) && fs.rename(other, d))
    }
    val raced =
      try IndexCache.rows(spark, fs, dir, schema)
      finally IndexCache.afterSignature = _ => ()
    assert(raced == Seq(Row("B")))
    // A's files back in place (rename keeps names, lengths and mtimes, so
    // the signature is A's again): B's rows must not be served for them
    assert(fs.rename(dir, other) && fs.rename(aside, dir))
    assert(IndexCache.cachedHead(fs, dir).isEmpty,
      "rows read after an install must not be cached under the prior signature")
    assert(IndexCache.rows(spark, fs, dir, schema) == Seq(Row("A")))
    assert(IndexCache.cachedHead(fs, dir).contains(Row("A")))
  }

  test("a full cache evicts its oldest entry, not every entry") {
    val base = Files.createTempDirectory("graft-index-evict")
    val dirs = (0 to IndexCache.MaxEntries).map { i =>
      new Path(Files.createDirectory(base.resolve(s"d$i")).toString)
    }
    // empty dirs: signature "" — no Spark job needed to fill the cache
    dirs.init.zipWithIndex.foreach { case (d, i) =>
      IndexCache.put(d.toString, "", Seq(Row(i)))
    }
    assert(dirs.init.forall(d => IndexCache.cachedHead(fs, d).isDefined))
    // re-putting d0 makes it the newest, so d1 is now the oldest
    IndexCache.put(dirs.head.toString, "", Seq(Row(0)))
    IndexCache.put(dirs.last.toString, "", Seq(Row(IndexCache.MaxEntries)))
    assert(IndexCache.cachedHead(fs, dirs(1)).isEmpty, "the oldest entry is evicted")
    assert(IndexCache.cachedHead(fs, dirs.head).contains(Row(0)))
    assert((2 to IndexCache.MaxEntries).forall { i =>
      IndexCache.cachedHead(fs, dirs(i)).contains(Row(i))
    }, "every other entry survives")
  }
}

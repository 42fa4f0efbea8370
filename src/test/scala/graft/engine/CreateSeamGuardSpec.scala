package graft.engine

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * Source guard: every file or directory the engine creates goes through
 * the create seam ([[FileCreate]]), so a local warehouse never pays
 * Hadoop's shell `chmod` on a create. A new direct create under
 * `graft/engine` fails this spec. The allow-list names the enclosing
 * methods of the creates that never run on a local file system.
 */
class CreateSeamGuardSpec extends AnyFunSuite {

  private val EngineDir = Paths.get("src/main/scala/graft/engine")

  /** (file, enclosing method) of the creates allowed to bypass the seam. */
  private val Allowed = Set(
    // the `file:` branch is a java.nio O_EXCL create: its exclusive
    // create is what arbitrates the lock; the other branch runs only on
    // non-local stores
    "Catalog.scala" -> "createLockFileArbitrated",
    // the create-overwrite refresh runs only where setTimes is ignored
    // (object stores)
    "Catalog.scala" -> "startLockHeartbeat")

  /** A file-system create: `x.create(…)`, `x.createNonRecursive(…)`,
    * `x.createFile(…)` or `x.mkdirs(…)`, with the receiver. */
  private val CreateCall = """(\w+)\s*\.\s*(?:create(?:NonRecursive|File)?|mkdirs)\s*\(""".r
  /** Receivers that are not a file system: the seam itself, and objects
    * whose `create` makes no file. */
  private val NotFileSystems = Set("FileCreate", "UnsafeProjection", "URI")
  private val Def = """\bdef\s+(\w+)""".r

  private def indent(line: String): Int = line.indexWhere(!_.isWhitespace)
  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }

  /** The method whose body holds line `at`: the nearest line above it that
    * is indented less than every code line in between and declares a def. */
  private def enclosingDef(lines: IndexedSeq[String], at: Int): Option[String] = {
    var floor = indent(lines(at))
    (at - 1 to 0 by -1).iterator.map(lines)
      .filter(l => l.trim.nonEmpty && !isComment(l))
      .flatMap { l =>
        if (indent(l) >= floor) None
        else { floor = indent(l); Some(Def.findFirstMatchIn(l).map(_.group(1))) }
      }
      .collectFirst { case Some(name) => name }
  }

  /** Every direct create under `graft/engine` outside the seam, as
    * (file, line number, enclosing method, line). */
  private def directCreates(): Seq[(String, Int, Option[String], String)] = {
    val files = Files.list(EngineDir).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "FileCreate.scala")
    assert(files.nonEmpty, s"no sources under $EngineDir")
    files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.flatMap { i =>
        val code = lines(i).split("//", 2)(0)
        if (isComment(lines(i))) Nil
        else CreateCall.findAllMatchIn(code).filterNot(m => NotFileSystems(m.group(1)))
          .map(_ => (f.getFileName.toString, i + 1, enclosingDef(lines, i), lines(i).trim)).toSeq
      }
    }
  }

  test("the engine creates files only through the create seam") {
    val found = directCreates()
    val stray = found.filterNot { case (file, _, method, _) => method.exists(m => Allowed((file, m))) }
    assert(stray.isEmpty, "direct creates outside FileCreate (route them through it): " +
      stray.map { case (f, n, m, l) => s"$f:$n in ${m.getOrElse("?")}: $l" }.mkString("; "))
    // the allow-list names methods that still hold a direct create
    val used = found.flatMap { case (file, _, method, _) => method.map(file -> _) }.toSet
    assert(Allowed.subsetOf(used), s"allow-listed but gone: ${Allowed -- used}")
  }

  test("the scan finds a create and names its method") {
    val lines = IndexedSeq(
      "  def outer(): Unit = {",
      "    def helper(): Int = 1",
      "    if (ok) {",
      "      val out = fs.create(p, true)",
      "    }",
      "  }")
    assert(CreateCall.findFirstMatchIn(lines(3)).map(_.group(1)).contains("fs"))
    assert(enclosingDef(lines, 3).contains("outer"))
    assert(CreateCall.findFirstMatchIn("val b = dfs.createFile(p).build()").isDefined)
    assert(CreateCall.findFirstMatchIn("coldFs.mkdirs(dir): Unit").isDefined)
    assert(CreateCall.findFirstMatchIn("UnsafeProjection.create(exprs)").map(_.group(1))
      .exists(NotFileSystems))
  }
}

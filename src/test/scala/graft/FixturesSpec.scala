package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Query fixtures write their persisted indexes under a scratch root of
  * their own process, never a path every process shares. */
class FixturesSpec extends AnyFunSuite {

  test("scratchDir is stable per (name, sf dir) and lives under this JVM's own temp root") {
    val a = Fixtures.scratchDir("spidx", "/data/sf0.01")
    assert(a == Fixtures.scratchDir("spidx", "/data/sf0.01"))
    assert(a != Fixtures.scratchDir("spidx", "/data/sf0.1"))
    assert(a != Fixtures.scratchDir("bm25idx", "/data/sf0.01"))
    val root = Paths.get(a).getParent
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    assert(root.getParent.toRealPath() == tmp.toRealPath() && root != tmp, s"root $root")
    assert(Files.isDirectory(root) && root.getFileName.toString.startsWith("graft_fixtures"))
  }

  test("no query builds a fixture path under the shared java.io.tmpdir") {
    val shared = """java\.io\.tmpdir""".r
    // the old per-site shape is caught
    assert(shared.findFirstIn(
      """val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_q_spidx_$tag"""").nonEmpty)
    val dir = new java.io.File("src/main/scala/graft")
    assert(dir.isDirectory, s"run from the repository root (no ${dir.getAbsolutePath})")
    val queries = dir.listFiles().toSeq
      .filter(f => f.getName.startsWith("Queries") && f.getName.endsWith(".scala"))
    assert(queries.size >= 2, queries.mkString(", "))
    val offenders = queries.filter(f =>
      shared.findFirstIn(new String(Files.readAllBytes(f.toPath), "UTF-8")).nonEmpty)
    assert(offenders.isEmpty,
      s"shared tmpdir paths in ${offenders.map(_.getName).mkString(", ")} — use " +
        "Fixtures.scratchDir")
  }
}

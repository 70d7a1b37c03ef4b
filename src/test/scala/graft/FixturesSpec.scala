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

  /** The `Queries*.scala` files in which `pattern` occurs. */
  private def queriesMatching(pattern: scala.util.matching.Regex): Seq[String] = {
    val dir = new java.io.File("src/main/scala/graft")
    assert(dir.isDirectory, s"run from the repository root (no ${dir.getAbsolutePath})")
    val queries = dir.listFiles().toSeq
      .filter(f => f.getName.startsWith("Queries") && f.getName.endsWith(".scala"))
    assert(queries.size >= 2, queries.mkString(", "))
    queries.filter(f =>
      pattern.findFirstIn(new String(Files.readAllBytes(f.toPath), "UTF-8")).nonEmpty)
      .map(_.getName)
  }

  test("no query builds a fixture path under the shared java.io.tmpdir") {
    val shared = """java\.io\.tmpdir""".r
    // the old per-site shape is caught
    assert(shared.findFirstIn(
      """val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_q_spidx_$tag"""").nonEmpty)
    val offenders = queriesMatching(shared)
    assert(offenders.isEmpty,
      s"shared tmpdir paths in ${offenders.mkString(", ")} — use Fixtures.scratchDir")
  }

  test("no query makes its own temp dir: fixtures live under the scratch root") {
    // per-call temp dirs outlive the JVM and pile up in the temp root
    val ownTemp = """createTempDirectory""".r
    // the old inline shape is caught
    assert(ownTemp.findFirstIn(
      """val dr = java.nio.file.Files.createTempDirectory("ivf_ip_q").toString""").nonEmpty)
    val offenders = queriesMatching(ownTemp)
    assert(offenders.isEmpty,
      s"createTempDirectory in ${offenders.mkString(", ")} — use Fixtures.scratchDir")
  }
}

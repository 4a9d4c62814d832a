package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.exec.HadoopConf

/** The engine's one Hadoop-Configuration constructor: every call is a
  * private copy of the JVM's loaded defaults plus the caller's extras. */
class HadoopConfSpec extends AnyFunSuite {

  test("extras are applied on top of the loaded defaults") {
    val c = HadoopConf(Map("fs.graftfs.root.acct" -> "/tmp/x", "fs.defaultFS" -> "graftfs://acct/"))
    assert(c.get("fs.graftfs.root.acct") == "/tmp/x")
    assert(c.get("fs.defaultFS") == "graftfs://acct/", "an extra did not override its default")
    // a core-default.xml key the caller did not set
    assert(c.get("io.file.buffer.size") == "4096", "core-default.xml not loaded")
    assert(HadoopConf().get("fs.defaultFS") == "file:///", "an override leaked into the defaults")
  }

  test("a set on one returned Configuration never leaks into the next") {
    val extra = Map("graft.k" -> "v")
    val a = HadoopConf(extra)
    a.set("graft.k", "changed")
    a.set("graft.only.a", "1")
    a.set("io.file.buffer.size", "8192")
    val b = HadoopConf(extra)
    assert(b.get("graft.k") == "v", "a caller's set reached a later copy")
    assert(b.get("graft.only.a") == null)
    assert(b.get("io.file.buffer.size") == "4096", "a caller's set reached the shared defaults")
  }

  test("different extras maps each get their own values") {
    val a = HadoopConf(Map("fs.graftfs.root.one" -> "/a", "graft.shared" -> "a"))
    val b = HadoopConf(Map("fs.graftfs.root.two" -> "/b", "graft.shared" -> "b"))
    assert(a.get("graft.shared") == "a" && b.get("graft.shared") == "b")
    assert(a.get("fs.graftfs.root.two") == null && b.get("fs.graftfs.root.one") == null)
  }
}

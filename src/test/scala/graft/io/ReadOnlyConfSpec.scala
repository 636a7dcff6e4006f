package graft.io

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** `FileIO.readOnlyConf()` hands every per-file reader the same shared
  * template; a caller that mutated it would change every later read in
  * the JVM. The template refuses mutation; copies stay ordinary confs. */
class ReadOnlyConfSpec extends AnyFunSuite {

  test("the shared read-only conf refuses every mutator; copies stay mutable") {
    val ro = FileIO.readOnlyConf()
    assert(ro eq FileIO.readOnlyConf(), "the template is shared, not copied")
    assert(ro.get("io.file.buffer.size") != null, "defaults are loaded")
    val mutators: Seq[(String, Configuration => Unit)] = Seq(
      "set" -> (_.set("graft.spec.k", "v")),
      "setInt" -> (_.setInt("graft.spec.k", 1)),
      "setBoolean" -> (_.setBoolean("graft.spec.k", true)),
      "setIfUnset" -> (_.setIfUnset("graft.spec.k", "v")),
      "setStrings" -> (_.setStrings("graft.spec.k", "a", "b")),
      "setClass" -> (_.setClass("graft.spec.k", classOf[String], classOf[Object])),
      "unset" -> (_.unset("io.file.buffer.size")),
      "clear" -> (_.clear()),
      "addResource" -> (_.addResource("core-site.xml")),
      "addResource(conf)" -> (_.addResource(new Configuration(false))))
    mutators.foreach { case (name, m) =>
      intercept[UnsupportedOperationException](m(ro))
      assert(ro.get("graft.spec.k") === null, name)
      assert(ro.get("io.file.buffer.size") != null, name)
    }

    val copy = FileIO.sharedConf()
    copy.set("graft.spec.k", "v")
    assert(copy.get("graft.spec.k") === "v")
    assert(copy.get("io.file.buffer.size") === ro.get("io.file.buffer.size"))
    val withExtra = FileIO.readOnlyConf(Map("graft.spec.k" -> "x"))
    assert(withExtra.get("graft.spec.k") === "x")
    assert(ro.get("graft.spec.k") === null)
  }

  test("a default resource added after the template exists reloads it instead of failing") {
    // what the static initializers of JobConf, HdfsConfiguration and
    // YarnConfiguration do when those classes first load
    val ro = FileIO.readOnlyConf()
    val bufferSize = ro.get("io.file.buffer.size")
    Configuration.addDefaultResource("graft-readonly-test.xml")
    assert(ro.get("graft.readonly.test.default") === "loaded")
    assert(ro.get("io.file.buffer.size") === bufferSize)
    assert(FileIO.sharedConf().get("graft.readonly.test.default") === "loaded")
    intercept[UnsupportedOperationException](ro.set("graft.spec.k", "v"))
  }
}

package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

/** The staging cache's lifecycle rules, with build closures that only
  * write a marker file: one build per (name, dir), per-JVM dirs deleted
  * by [[Staging.clear]], shared dirs kept, nested stagings allowed. */
class StagingSpec extends AnyFunSuite {

  private def marked(p: String): Unit =
    Files.writeString(new File(p, "built").toPath, "x")

  test("the same (name, dir) returns the same path without rebuilding") {
    var builds = 0
    val a = Staging.perJvm("staging_spec_once", "/d") { p => builds += 1; marked(p) }
    val b = Staging.perJvm("staging_spec_once", "/d") { p => builds += 1; marked(p) }
    assert(a == b)
    assert(builds == 1)
    assert(new File(a, "built").exists())
  }

  test("two names over one dir get two dirs") {
    val a = Staging.perJvm("staging_spec_a", "/d")(marked)
    val b = Staging.perJvm("staging_spec_b", "/d")(marked)
    assert(a != b)
    assert(new File(a, "built").exists() && new File(b, "built").exists())
  }

  test("clear deletes per-JVM dirs, keeps shared ones, and the next call rebuilds") {
    val src = Files.createTempDirectory("staging_src")
    Files.writeString(src.resolve("source.txt"), "x")
    val dir = src.toString
    var sharedBuilds = 0
    def shared() = Staging.shared("staging_spec_shared", dir, "source.txt") { p =>
      sharedBuilds += 1; marked(p)
    }
    val jvm1 = Staging.perJvm("staging_spec_jvm1", dir)(marked)
    val jvm2 = Staging.perJvm("staging_spec_jvm2", dir)(marked)
    val sh = shared()
    try {
      Staging.clear()
      assert(!new File(jvm1).exists() && !new File(jvm2).exists())
      assert(new File(sh, "built").exists())
      val again = Staging.perJvm("staging_spec_jvm1", dir)(marked)
      assert(again != jvm1)
      assert(new File(again, "built").exists())
      // the shared copy is still on disk, so forgetting it costs no rebuild
      assert(shared() == sh)
      assert(sharedBuilds == 1)
    } finally {
      FileUtils.deleteQuietly(new File(sh))
      FileUtils.deleteQuietly(src.toFile)
    }
  }

  test("a build that stages other artifacts inside its own closure completes") {
    // enough inner keys that one shares a hash bin with the outer key:
    // a build run inside the map's computeIfAbsent fails there with
    // "Recursive update"
    val inner = 64
    val outer = Staging.perJvm("staging_spec_outer", "/nested") { p =>
      val paths = (0 until inner).map(i => Staging.perJvm(s"staging_spec_inner$i", "/nested")(marked))
      Files.writeString(new File(p, "built").toPath, paths.mkString("\n"))
    }
    val paths = Files.readAllLines(new File(outer, "built").toPath)
    assert(paths.size == inner)
    paths.forEach(q => assert(new File(q, "built").exists()))
  }
}

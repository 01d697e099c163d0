package graft

import graft.queries.Artifacts
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The offline-artifact registry's scratch discipline: every landing is
  * keyed per (dataset dir, JVM), and the exit cleanup deletes this JVM's
  * landings only. */
class ArtifactsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  private val pidTag = s"pid${ProcessHandle.current().pid()}"

  test("every landed path and table name carries this JVM's pid; dirs never share a key") {
    val landed = Artifacts.all.map(a => a.name -> a(spark, GraftTestSpark.Sf0001))
      .collect { case (n, v: String) => n -> v }
    assert(landed.map(_._1).contains("graft_lookup") && landed.size > 1, landed)
    landed.foreach { case (n, v) =>
      assert(v.endsWith(s"-$pidTag") || v.endsWith(s"_$pidTag"), s"$n -> $v")
    }
    landed.filter(_._1 != "graft_lookup").foreach { case (n, p) =>
      assert(Files.isDirectory(java.nio.file.Paths.get(p)), s"$n -> $p")
    }
    // same basename, different dirs: the key is the whole dir, not its name
    for (name <- Seq("rollup", "graft_lookup")) {
      assert(Artifacts.scratchPath(name, "/a/sf0.001") !=
        Artifacts.scratchPath(name, "/b/sf0.001"))
      assert(Artifacts.tableName(name, "/a/sf0.001") !=
        Artifacts.tableName(name, "/b/sf0.001"))
    }
  }

  test("exit cleanup removes this JVM's pid entries only") {
    val root = Files.createTempDirectory("graft-artifacts")
    def land(name: String): Path = {
      val d = Files.createDirectories(root.resolve(name).resolve("part"))
      Files.write(d.resolve("f.parquet"), Array[Byte](1, 2, 3))
      root.resolve(name)
    }
    val mine = Seq(s"rollup-_data_sf0.001-$pidTag",
      s"graft_lookup__data_sf0_001_$pidTag").map(land)
    val others = Seq("rollup-_data_sf0.001-pid1", s"rollup-_data_sf0.001-${pidTag}7",
      s"rollup-_data_sf0.001-${pidTag.replace("pid", "pid9")}", "profile-sa-base").map(land)
    Artifacts.sweepOwn(root)
    mine.foreach(p => assert(!Files.exists(p), p))
    others.foreach(p => assert(Files.exists(p.resolve("part/f.parquet")), p))
  }
}

package graft.io

import org.scalatest.funsuite.AnyFunSuite

/** Regression pin for the ConflictSpec lost-update flake (r15 watch item,
  * root-caused r16): the Hadoop catalog's commit CAS was `exists-check +
  * rename`, but local-FS rename is rename(2) — it silently REPLACES an
  * existing destination. Two committers racing the same version file both
  * passed the pre-check and the second rename erased the first
  * committer's already-acknowledged metadata (the test's "one concurrent
  * deleter's effect lost", 230 vs 210). [[FileIO.renameIfAbsent]] is the
  * atomic primitive commits now use: link(2) fails EEXIST atomically, so
  * a loser can never clobber the winner.
  */
class RenameIfAbsentSpec extends AnyFunSuite {

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft-cas-").toString

  test("renameIfAbsent never replaces an existing destination") {
    val io = FileIO.local()
    val dir = tmpDir()
    io.writeString(s"$dir/a.tmp", "winner")
    io.writeString(s"$dir/b.tmp", "loser")
    assert(io.renameIfAbsent(s"$dir/a.tmp", s"$dir/v2.json"))
    assert(!io.exists(s"$dir/a.tmp"), "winner's source must be consumed")
    // the exact failure shape: destination exists, a second mover races in
    assert(!io.renameIfAbsent(s"$dir/b.tmp", s"$dir/v2.json"))
    assert(io.readString(s"$dir/v2.json") === "winner",
      "a losing CAS must never overwrite the winner's committed bytes")
    // contrast: plain rename(2) semantics DO replace — the behavior the
    // commit path must never sit on (documents why the primitive exists)
    assert(io.rename(s"$dir/b.tmp", s"$dir/v2.json"))
    assert(io.readString(s"$dir/v2.json") === "loser")
  }

  test("renameIfAbsent falls back to exists+rename where hard links are unsupported") {
    val io = FileIO.local()
    val failures = Seq[Throwable](
      new UnsupportedOperationException("links not supported"),
      new java.nio.file.FileSystemException("v2.json", null, "Operation not permitted"))
    failures.foreach { failure =>
      val dir = tmpDir()
      val noLinks = (_: java.nio.file.Path, _: java.nio.file.Path) => throw failure
      io.writeString(s"$dir/a.tmp", "winner")
      io.writeString(s"$dir/b.tmp", "loser")
      assert(io.renameIfAbsent(s"$dir/a.tmp", s"$dir/v2.json", noLinks),
        s"${failure.getClass.getSimpleName} must degrade, not fail the commit")
      assert(!io.exists(s"$dir/a.tmp"))
      assert(!io.renameIfAbsent(s"$dir/b.tmp", s"$dir/v2.json", noLinks))
      assert(io.readString(s"$dir/v2.json") === "winner")
    }
  }

  test("renameIfAbsent propagates a missing path or denied access instead of reporting a lost race") {
    val io = FileIO.local()
    val failures = Seq[Throwable](
      new java.nio.file.NoSuchFileException("a.tmp"),
      new java.nio.file.AccessDeniedException("v2.json"))
    failures.foreach { failure =>
      val dir = tmpDir()
      val broken = (_: java.nio.file.Path, _: java.nio.file.Path) => throw failure
      io.writeString(s"$dir/a.tmp", "winner")
      val thrown = intercept[java.nio.file.FileSystemException](
        io.renameIfAbsent(s"$dir/a.tmp", s"$dir/v2.json", broken))
      assert(thrown eq failure)
      assert(io.exists(s"$dir/a.tmp"), "no fallback rename may run")
      assert(!io.exists(s"$dir/v2.json"))
    }
    // and the real primitive: a source that is gone is an error, not `false`
    val dir = tmpDir()
    intercept[java.nio.file.NoSuchFileException](
      io.renameIfAbsent(s"$dir/missing.tmp", s"$dir/v2.json"))
  }

  test("renameIfAbsent removes the source's checksum sidecar after linking") {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.setBoolean("graft.io.nio-local", false) // checksummed local FS
    val io = new FileIO(conf)
    val dir = tmpDir()
    io.writeString(s"$dir/a.tmp", "winner")
    val sidecar = java.nio.file.Paths.get(dir, ".a.tmp.crc")
    assert(java.nio.file.Files.exists(sidecar), "checksummed FS writes a .crc sidecar")
    assert(io.renameIfAbsent(s"$dir/a.tmp", s"$dir/v2.json"))
    assert(!java.nio.file.Files.exists(sidecar), "the moved source's sidecar must not be orphaned")
    assert(io.readString(s"$dir/v2.json") === "winner")
  }

  test("catalog commit CAS: concurrent committers from one base never lose an acknowledged commit") {
    import graft.spec.{IcebergSchema, PartitionSpec}
    import org.apache.spark.sql.types._
    val cat = new graft.catalog.HadoopCatalog(tmpDir(), FileIO.local())
    val schema = IcebergSchema.fromSpark(
      StructType(Seq(StructField("id", LongType))))
    cat.createTable("t", schema, PartitionSpec.unpartitioned, Map.empty)
    val (base, v1) = cat.loadTable("t")
    // two committers derived from the SAME base version race: exactly one
    // may win, and the surviving metadata must be the winner's
    val a = base.copy(properties = base.properties + ("who" -> "a"))
    val b = base.copy(properties = base.properties + ("who" -> "b"))
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val results = Await.result(Future.sequence(Seq(a, b).map(md => Future {
      try Right(cat.commitTable("t", v1, md))
      catch { case e: graft.catalog.CommitConflict => Left(e) }
    })), 30.seconds)
    assert(results.count(_.isRight) === 1, s"exactly one winner: $results")
    val winner = Seq(a, b)(results.indexWhere(_.isRight))
    val (cur, _) = cat.loadTable("t")
    assert(cur.properties.get("who") === winner.properties.get("who"),
      "the acknowledged commit's metadata must survive the race")
  }
}

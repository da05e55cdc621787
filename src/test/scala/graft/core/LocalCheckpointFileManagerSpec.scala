package graft.core

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** Serves a test-only scheme from the local disk, so a non-`file:` path can
  * be driven without a cluster.
  */
class GraftTestSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${GraftTestSchemeFileSystem.Scheme}:///")
  override def getScheme: String = GraftTestSchemeFileSystem.Scheme
}

object GraftTestSchemeFileSystem {
  val Scheme = "graftlocal"
}

/** The contract Spark's streaming checkpoint relies on, held by
  * [[LocalCheckpointFileManager]]: rename-based atomic create, no overwrite
  * unless asked, cancel without leftovers, and files written by Spark's
  * default manager (with `.crc` sidecars) stay readable and overwritable.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def tempDir(): File = Files.createTempDirectory("graft-cfm-").toFile

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every entry of `dir`, hidden temp files and `.crc` sidecars included. */
  private def entries(dir: File): Set[String] = Option(dir.list()).fold(Set.empty[String])(_.toSet)

  test("file: paths get the java.nio manager, scheme-less local paths too") {
    val dir = tempDir()
    Seq(dir.getPath, dir.toURI.toString).foreach { p =>
      val fm = new LocalCheckpointFileManager(new Path(p), conf)
      assert(fm.underlying.isInstanceOf[LocalCheckpointFileManager.Nio], p)
      assert(fm.isLocal, p)
    }
  }

  test("create in a missing directory, then read back and list") {
    val dir = new File(tempDir(), "offsets/nested")
    val fm = new LocalCheckpointFileManager(new Path(dir.getPath), conf)
    val target = new Path(dir.getPath, "0")
    write(fm, target, "v1", overwrite = false)
    assert(fm.exists(target))
    assert(read(fm, target) == "v1")
    assert(fm.list(new Path(dir.getPath)).map(_.getPath.getName).toSeq == Seq("0"))
    // no temp file left behind, and the new file carries no .crc of its own
    assert(entries(dir) == Set("0"))
  }

  test("overwriteIfPossible = false on an existing target throws and keeps the old bytes") {
    val dir = tempDir()
    val fm = new LocalCheckpointFileManager(new Path(dir.getPath), conf)
    val target = new Path(dir.getPath, "1")
    write(fm, target, "old", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, target, "new", overwrite = false))
    assert(read(fm, target) == "old")
  }

  test("overwriteIfPossible = true replaces the target") {
    val dir = tempDir()
    val fm = new LocalCheckpointFileManager(new Path(dir.getPath), conf)
    val target = new Path(dir.getPath, "1.delta")
    write(fm, target, "old", overwrite = false)
    write(fm, target, "newer", overwrite = true)
    assert(read(fm, target) == "newer")
    assert(entries(dir) == Set("1.delta"))
  }

  test("cancel leaves neither the target nor a temp file") {
    val dir = tempDir()
    val fm = new LocalCheckpointFileManager(new Path(dir.getPath), conf)
    val target = new Path(dir.getPath, "2")
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(!fm.exists(target))
    assert(entries(dir).isEmpty, entries(dir))
  }

  test("open of a missing path throws FileNotFoundException") {
    val dir = tempDir()
    val fm = new LocalCheckpointFileManager(new Path(dir.getPath), conf)
    intercept[FileNotFoundException](fm.open(new Path(dir.getPath, "absent")))
  }

  test("overwrite of a file with a .crc from Spark's default manager reads back the new bytes") {
    val dir = tempDir()
    val target = new Path(dir.getPath, "3.delta")
    val sparkDefault = new FileContextBasedCheckpointFileManager(new Path(dir.getPath), conf)
    write(sparkDefault, target, "written by the default manager", overwrite = false)
    assert(entries(dir).contains(".3.delta.crc"), entries(dir))

    val fm = new LocalCheckpointFileManager(new Path(dir.getPath), conf)
    assert(read(fm, target) == "written by the default manager")
    write(fm, target, "rewritten", overwrite = true)
    // a stale sidecar would fail both checksummed reads
    assert(read(fm, target) == "rewritten")
    assert(read(sparkDefault, target) == "rewritten")
    assert(entries(dir) == Set("3.delta"))
  }

  test("a non-file: scheme gets Spark's default manager") {
    val schemeConf = new Configuration(conf)
    schemeConf.set(s"fs.${GraftTestSchemeFileSystem.Scheme}.impl", classOf[GraftTestSchemeFileSystem].getName)
    val dir = new Path(s"${GraftTestSchemeFileSystem.Scheme}://${tempDir().getPath}")
    val fm = new LocalCheckpointFileManager(dir, schemeConf)
    val default = CheckpointFileManager.create(dir, schemeConf)
    assert(!fm.underlying.isInstanceOf[LocalCheckpointFileManager.Nio])
    assert(fm.underlying.getClass == default.getClass)
    // and it serves the scheme
    val target = new Path(dir, "0")
    write(fm, target, "v1", overwrite = false)
    assert(read(default, target) == "v1")
  }

  test("the setting makes Spark build this manager") {
    val withSetting = new Configuration(conf)
    withSetting.set(GraftSession.CheckpointFileManagerConf._1, GraftSession.CheckpointFileManagerConf._2)
    assert(CheckpointFileManager.create(new Path(tempDir().getPath), withSetting)
      .isInstanceOf[LocalCheckpointFileManager])
  }
}

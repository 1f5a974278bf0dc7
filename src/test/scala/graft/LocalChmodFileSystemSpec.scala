package graft

import graft.io.{InJvmChmodRawFileSystem, LocalChmodFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import java.io.IOException
import java.nio.file.{Files, NoSuchFileException, Paths}
import java.nio.file.attribute.PosixFilePermissions

/** The engine's `file://` file system sets the same permission bits as
  * the stock one, without forking a `chmod` per file, and is what a
  * session built from `GraftSession.commonOptions` resolves `file:///` to. */
class LocalChmodFileSystemSpec extends AnyFunSuite {

  private def raw(fs: RawLocalFileSystem, umask: String): RawLocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  private def bits(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  test("create and mkdirs set the stock file system's permission bits under a umask") {
    for (umask <- Seq("022", "027", "077", "002")) {
      val dir = new Path(Files.createTempDirectory("graft_chmod").toUri)
      val stock = raw(new RawLocalFileSystem, umask)
      val engine = raw(new InJvmChmodRawFileSystem, umask)
      def same(make: (FileSystem, Path) => Unit, name: String): String = {
        val (s, e) = (new Path(dir, s"stock_$name"), new Path(dir, s"engine_$name"))
        make(stock, s)
        make(engine, e)
        assert(bits(e) == bits(s), s"$name under umask $umask")
        bits(e)
      }
      val file = same((fs, p) => fs.create(p).close(), "file")
      val mkdir = same((fs, p) => assert(fs.mkdirs(p)), "dir")
      same((fs, p) => assert(fs.mkdirs(new Path(p, "a/b"))), "nested")
      same((fs, p) => fs.create(p, new FsPermission("751"), false, 4096,
        1.toShort, 1L << 20, null).close(), "file751")
      same((fs, p) => assert(fs.mkdirs(p, new FsPermission("705"))), "dir705")
      same((fs, p) => { fs.create(p).close(); fs.setPermission(p, new FsPermission("640")) },
        "chmod640")
      if (umask == "022") {
        assert(file == "rw-r--r--" && mkdir == "rwxr-xr-x")
      }
    }
  }

  test("the bits are set in the JVM; a sticky bit takes the stock path") {
    val dir = new Path(Files.createTempDirectory("graft_chmod_sticky").toUri)
    val engine = raw(new InJvmChmodRawFileSystem, "022")
    val sticky = new Path(dir, "sticky")
    assert(engine.mkdirs(sticky))
    engine.setPermission(sticky, new FsPermission("1777"))
    assert(engine.getFileStatus(sticky).getPermission == new FsPermission("1777"),
      "java.nio cannot set a sticky bit, so only the stock path keeps it")
    // the two paths fail differently on a missing file: java.nio's
    // NoSuchFileException, against the forked chmod's exit code (or the
    // native library's own error)
    val missing = new Path(dir, "missing")
    intercept[NoSuchFileException](engine.setPermission(missing, new FsPermission("644")))
    val viaStock = intercept[IOException](engine.setPermission(missing, new FsPermission("1755")))
    assert(!viaStock.isInstanceOf[NoSuchFileException])
  }

  test("commonOptions resolve file:/// to the engine's checksummed file system") {
    // newInstance, not get: the shared test session has already cached
    // the stock file system for file:/// in this JVM
    val conf = new Configuration()
    GraftSession.commonOptions("4").collect { case (k, v) if k.startsWith("spark.hadoop.") =>
      conf.set(k.stripPrefix("spark.hadoop."), v)
    }
    val fs = FileSystem.newInstance(java.net.URI.create("file:///"), conf)
    try {
      assert(fs.getClass == classOf[LocalChmodFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[InJvmChmodRawFileSystem])
      // the same tree as the stock file system's (the checksummed
      // LocalFileSystem, or a proxy over it): data file plus .crc
      val dir = new Path(Files.createTempDirectory("graft_chmod_tree").toUri)
      val stock = FileSystem.newInstance(java.net.URI.create("file:///"), new Configuration())
      try {
        assert(stock.getClass != classOf[LocalChmodFileSystem])
        def tree(f: FileSystem, name: String): Seq[(String, String)] = {
          val out = f.create(new Path(dir, s"$name/sub/part-0"))
          try out.write(Array.fill[Byte](100)(1)) finally out.close()
          Files.walk(Paths.get(dir.toUri).resolve(name)).toArray.toSeq
            .map(_.asInstanceOf[java.nio.file.Path])
            .map(p => Paths.get(dir.toUri).resolve(name).relativize(p).toString ->
              PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
            .sorted
        }
        val engineTree = tree(fs, "engine")
        assert(engineTree == tree(stock, "stock"))
        assert(engineTree.map(_._1).contains("sub/.part-0.crc"))
      } finally stock.close()
    } finally fs.close()
  }
}

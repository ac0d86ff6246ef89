package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.operators.{IterJobRow, IterStateStore}
import graft.sources.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem}
import graft.streaming.StreamOps

/** Marks the end of a recorded region: the stream delivers events in
  * time order, so once this arrives every earlier launch has too. */
final class LocalFsSpecMarker extends jdk.jfr.Event

/** graft's `file://` stack ([[graft.sources.LocalFs]]) against Hadoop's
  * stock `RawLocalFileSystem` / `local.LocalFs`: same permission bits,
  * same link status, same checksummed overwrite-rename — and no child
  * process for any of it. */
class LocalFsSpec extends SparkSpec {

  private val conf = new Configuration()
  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private lazy val stock = raw(new RawLocalFileSystem)
  private lazy val graft = raw(new GraftRawLocalFileSystem)

  private def tmp(): File = Files.createTempDirectory("graft-localfs").toFile
  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff
  /** `body` on each side, each in its own fresh directory. */
  private def both[F, A](stock: F, graft: F)(body: (F, File) => A): (A, A) = {
    val d = tmp()
    val (s, g) = (new File(d, "stock"), new File(d, "graft"))
    s.mkdir(); g.mkdir()
    (body(stock, s), body(graft, g))
  }

  test("create, mkdirs and setPermission leave the same mode bits as the stock raw file system") {
    def ops(fs: RawLocalFileSystem, d: File): Seq[(String, Int)] = {
      val f = new File(d, "f"); val sub = new File(d, "a/b")
      fs.create(new Path(f.getPath)).close()
      val out = mutable.Buffer("create" -> mode(f))
      fs.mkdirs(new Path(sub.getPath))
      out += "mkdirs" -> mode(sub) += "mkdirs parent" -> mode(sub.getParentFile)
      fs.mkdirs(new Path(d.getPath, "m"), new FsPermission("750"))
      out += "mkdirs 750" -> mode(new File(d, "m"))
      for (p <- Seq("000", "640", "777", "1777")) {
        fs.setPermission(new Path(f.getPath), new FsPermission(p))
        fs.setPermission(new Path(sub.getPath), new FsPermission(p))
        out += s"file $p" -> mode(f) += s"dir $p" -> mode(sub)
      }
      // chmod(1) keeps a directory's setgid bit on a four-digit mode
      Files.setAttribute(sub.toPath, "unix:mode", Integer.valueOf(Integer.parseInt("2755", 8)))
      fs.setPermission(new Path(sub.getPath), new FsPermission("750"))
      out += "setgid dir 750" -> mode(sub)
      out.toSeq
    }
    val (s, g) = both(stock, graft)(ops)
    assert(g == s)
    assert(s.toMap.apply("create") == Integer.parseInt("644", 8)) // default umask 022
    assert(s.toMap.apply("file 1777") == Integer.parseInt("1777", 8))
    assert(s.toMap.apply("setgid dir 750") == Integer.parseInt("2750", 8))
  }

  test("getFileLinkStatus matches the stock raw file system on files, dirs, symlinks and dangling links") {
    def view(st: FileStatus) =
      (st.getPath.getName, st.isSymlink, if (st.isSymlink) st.getSymlink.toString else "",
        st.getLen, st.isDirectory)
    def ops(fs: RawLocalFileSystem, d: File): Seq[Any] = {
      val f = new File(d, "f"); Files.write(f.toPath, "hello".getBytes(UTF_8))
      val dir = new File(d, "dir"); dir.mkdir()
      val link = new File(d, "link"); Files.createSymbolicLink(link.toPath, Paths.get("f"))
      val dangling = new File(d, "dangling")
      Files.createSymbolicLink(dangling.toPath, Paths.get("gone"))
      val plain = Seq(f, dir, link, dangling).map(x => new Path(x.getPath))
      // FileContext hands over qualified paths; the deprecated status
      // does not see them as links, and neither may graft's
      val qualified = plain.map(fs.makeQualified)
      val missing =
        try { fs.getFileLinkStatus(new Path(d.getPath, "missing")); "found" }
        catch { case _: FileNotFoundException => "FileNotFoundException" }
      val qualifiedViews = qualified.map(p =>
        try view(fs.getFileLinkStatus(p)).toString
        catch { case e: FileNotFoundException => e.getClass.getSimpleName })
      plain.map(p => view(fs.getFileLinkStatus(p))) ++ qualifiedViews :+ missing
    }
    val (s, g) = both(stock, graft)(ops)
    // symlink targets come back qualified, under each side's own dir
    def rel(v: Seq[Any], d: String) = v.map(_.toString.replace(d, "/<d>/"))
    assert(s(2).toString.matches("\\(link,true,file:/.*/stock/f,5,false\\)"), s)
    assert(s(3).toString.matches("\\(dangling,true,file:/.*/stock/gone,0,false\\)"), s)
    assert(s.last == "FileNotFoundException")
    assert(rel(g, "/graft/") == rel(s, "/stock/"), s"stock=$s graft=$g")
  }

  test("FileContext.rename with OVERWRITE replaces the content and the .crc as the stock LocalFs does") {
    def run(fc: FileContext, d: File) = {
      def write(p: Path, s: String): Unit = {
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        out.write(s.getBytes(UTF_8)); out.close()
      }
      val (src, dst) = (new Path(d.getPath, "src"), new Path(d.getPath, "dst"))
      val (dstFile, dstCrc) = (new File(d, "dst"), new File(d, ".dst.crc"))
      write(dst, "old contents")
      write(src, "new")
      val srcCrc = Files.readAllBytes(new File(d, ".src.crc").toPath)
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val in = fc.open(dst)
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      (text, Files.readAllBytes(dstCrc.toPath).sameElements(srcCrc),
        d.list.sorted.mkString(","), mode(dstFile), mode(dstCrc))
    }
    val graftConf = new Configuration(conf)
    graftConf.set("fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
    val stockFc = FileContext.getFileContext(URI.create("file:///"), conf)
    val graftFc = FileContext.getFileContext(URI.create("file:///"), graftConf)
    assert(graftFc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    val (s, g) = both(stockFc, graftFc)(run)
    assert(g == s)
    assert((s._1, s._2, s._3) == ("new", true, ".dst.crc,dst"), s)
  }

  test("the session's FileSystem and FileContext resolve file:// to graft's classes") {
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass)
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getRaw
      .isInstanceOf[GraftRawLocalFileSystem])
    // the conf state stores and checkpoint file managers are built from
    val afs = FileContext.getFileContext(URI.create("file:///"),
      spark.sessionState.newHadoopConf()).getDefaultFileSystem
    assert(afs.isInstanceOf[GraftLocalFs], afs.getClass)
  }

  test("a stream-stream join run and a control-plane snapshot save launch no child process") {
    // loading Hadoop's Shell class probes setsid and bash once: do it first
    assume(!org.apache.hadoop.util.Shell.WINDOWS)
    // (command, classes on its launch stack)
    val launches = mutable.Buffer.empty[(String, Seq[String])]
    val done = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[LocalFsSpecMarker])
      rs.onEvent("jdk.ProcessStart", e => {
        val stack = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        launches.synchronized(launches += e.getString("command") -> stack.map(_.getMethod.getType.getName))
      })
      rs.onEvent(classOf[LocalFsSpecMarker].getName, _ => done.countDown())
      rs.startAsync()
      new ProcessBuilder("true").start().waitFor()
      val rows = StreamOps.runAttributionToCompletion(spark, sfDir).count()
      assert(rows > 0)
      IterStateStore.parquet(spark, tmp().getPath)
        .save(Seq(IterJobRow("j", "running", 0L, None, 0L, 0L, 0L, Seq(1L, 2L), Seq(1L, 2L))))
      new LocalFsSpecMarker().commit()
      assert(done.await(60, TimeUnit.SECONDS), "the marker event never arrived")
    } finally rs.close()
    val seen = launches.synchronized(launches.toList)
    // the recording sees launches, with their stacks
    assert(seen.exists { case (cmd, stack) => cmd == "true" && stack.contains(classOf[LocalFsSpec].getName) },
      seen.map(_._1))
    // Spark forks on its own threads now and then, whatever the file
    // system (getconf at the first heartbeat, rm -rf when a session's
    // artifacts are cleaned up): only launches from Hadoop code count
    val hadoop = seen.filter(_._2.exists(_.startsWith("org.apache.hadoop.")))
    assert(hadoop.isEmpty, s"${hadoop.size} child processes from Hadoop: ${hadoop.map(_._1).take(5)}")
  }
}

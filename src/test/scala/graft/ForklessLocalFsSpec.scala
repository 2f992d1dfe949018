package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import graft.streaming.{Generators, Jobs}

/** The `file:` override of [[Sessions.tuned]]: checkpoint I/O starts no
  * process, and the two overridden calls keep stock Hadoop's semantics.
  * Process starts are counted with an in-process JFR recording of
  * `jdk.ProcessStart` only; a control call to stock Hadoop under the same
  * recording shows the count can be non-zero. */
class ForklessLocalFsSpec extends SparkSpec {

  private val localUri = new URI("file:///")

  private def conf: Configuration = spark.sessionState.newHadoopConf()

  /** The session's conf with `FileContext` on Hadoop's own `LocalFs`. */
  private def stockConf: Configuration = {
    val c = conf
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }

  private def stockFs: LocalFileSystem = {
    val fs = new LocalFileSystem(new RawLocalFileSystem)
    fs.initialize(localUri, stockConf)
    fs
  }

  /** `body`'s result and the processes the JVM started while it ran,
    * each as its command and the first frames of its caller outside the
    * JDK. Spark's executor-metrics page-size probe starts `getconf` once
    * per JVM, at whichever heartbeat comes first; it is made to happen
    * before the recording, so it cannot fall inside one. A session that
    * an earlier suite dropped has its artifact dir removed with `rm -rf`
    * by `ArtifactManager`'s cleaner thread whenever the GC collects it;
    * that start has nothing to do with `body` and is not counted. */
  private def processStarts[A](body: => A): (A, Seq[String]) = {
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter")
      .getMethod("pTreeInfo").invoke(null)
    val out = tempFile("starts", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.setDestination(out)
      rec.start()
      val a = try body finally rec.stop()
      val starts = RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
            .filterNot(_.startsWith("java."))
          (e.getString("command"), frames)
        }
        .filterNot(_._2.exists(_.startsWith("org.apache.spark.sql.artifact.ArtifactManager")))
        .map { case (command, frames) => s"$command <- ${frames.take(6).mkString(" <- ")}" }
      (a, starts)
    } finally rec.close()
  }

  private def write(fc: FileContext, p: Path, bytes: String): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    try out.write(bytes.getBytes("UTF-8")) finally out.close()
  }

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("the session resolves file: to the fork-free classes in FileSystem and FileContext") {
    val fs = FileSystem.get(localUri, conf)
    assert(fs.isInstanceOf[ForklessLocalFileSystem], fs.getClass.getName)
    val raw = fs.asInstanceOf[LocalFileSystem].getRawFileSystem
    assert(raw.isInstanceOf[ForklessRawLocalFileSystem], raw.getClass.getName)
    assert(new Path("file:///tmp").getFileSystem(conf) eq fs)
    val afs = FileContext.getFileContext(localUri, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForklessLocalFs], afs.getClass.getName)
    // the cache keys on scheme and user, not on the impl key: once the
    // session built it, even a conf without the key gets the new class
    assert(FileSystem.get(localUri, new Configuration()) eq fs)
  }

  test("createAtomic, a no-overwrite rename and mkdirs start no process; stock setPermission does") {
    val dir = tempDir("forkless-ops")
    val c = conf
    val fm = CheckpointFileManager.create(new Path(dir), c)
    val fc = FileContext.getFileContext(localUri, c)
    val fs = FileSystem.get(localUri, c)
    val (_, starts) = processStarts {
      fm.mkdirs(new Path(s"$dir/offsets"))
      val out = fm.createAtomic(new Path(s"$dir/offsets/0"), overwriteIfPossible = false)
      out.write("v1\n{}".getBytes("UTF-8"))
      out.close()
      write(fc, new Path(s"$dir/a.tmp"), "a")
      fc.rename(new Path(s"$dir/a.tmp"), new Path(s"$dir/a"), Options.Rename.NONE)
      assert(fs.mkdirs(new Path(s"$dir/x/y/z")))
      fm.mkdirs(new Path(s"$dir/state/0/1"))
    }
    assert(starts.isEmpty, s"checkpoint I/O started ${starts.size} processes: ${starts.take(3)}")
    assert(Files.isRegularFile(Paths.get(s"$dir/offsets/0")))
    assert(Files.isRegularFile(Paths.get(s"$dir/a")))
    assert(Files.isDirectory(Paths.get(s"$dir/x/y/z")))

    // control: the same recording sees stock Hadoop's chmod
    val stock = stockFs.getRawFileSystem
    val (_, control) = processStarts {
      stock.setPermission(new Path(s"$dir/a"), new FsPermission(Integer.parseInt("640", 8).toShort))
    }
    assert(control.nonEmpty, "the recording saw no process start from stock setPermission")
    assert(mode(s"$dir/a") === "rw-r-----")
  }

  test("three micro-batches of the capstone job start no process") {
    val d = Jobs.Dirs(tempDir("forkless-in"), tempDir("forkless-out"), tempDir("forkless-ck"))
    val staging = tempDir("forkless-staging")
    val (_, starts) = processStarts {
      val (counts, durations) = Jobs.courseUseCase(spark, d)
      try (0 until 3).foreach { i =>
        Generators.writeCsvFilesWide(staging, seed = 5, files = 1, perFile = 50,
          users = 20, fileOffset = i, idOffset = i * 50L)
        val name = f"events-$i%05d.csv"
        Files.move(Paths.get(staging, name), Paths.get(d.in, name),
          StandardCopyOption.ATOMIC_MOVE)
        counts.processAllAvailable()
        durations.processAllAvailable()
      } finally { counts.stop(); durations.stop() }
    }
    assert(starts.isEmpty,
      s"the capstone's micro-batches started ${starts.size} processes: ${starts.take(3)}")
    assert(Files.list(Paths.get(s"${d.ckpt}/durations/commits")).count() >= 3)
    assert(spark.read.parquet(s"${d.out}/durations").count() === 150)
  }

  test("a no-overwrite createAtomic onto an existing file throws, as on stock Hadoop") {
    for ((name, c) <- Seq("forkless" -> conf, "stock" -> stockConf)) {
      val dir = tempDir(s"forkless-atomic-$name")
      val fm = CheckpointFileManager.create(new Path(dir), c)
      val p = new Path(s"$dir/commits/0")
      fm.mkdirs(p.getParent)
      val first = fm.createAtomic(p, overwriteIfPossible = false)
      first.write(1)
      first.close()
      val second = fm.createAtomic(p, overwriteIfPossible = false)
      second.write(2)
      intercept[FileAlreadyExistsException](second.close())
    }
  }

  test("created files and directories get stock Hadoop's mode bits") {
    val perms = Seq(None, Some("755"), Some("700"), Some("640"), Some("1777"))
    val modes = Seq("forkless" -> conf, "stock" -> stockConf).map { case (name, c) =>
      val dir = tempDir(s"forkless-mode-$name")
      val fc = FileContext.getFileContext(localUri, c)
      val fs = if (name == "stock") stockFs else FileSystem.get(localUri, c)
      perms.zipWithIndex.flatMap { case (perm, i) =>
        val fsPerm = perm.map(m => new FsPermission(Integer.parseInt(m, 8).toShort))
        val f = new Path(s"$dir/f$i")
        val out = fsPerm.fold(fs.create(f))(fs.create(f, _, false, 4096, 1.toShort, 1L << 20, null))
        out.close()
        val dirs = new Path(s"$dir/d$i/e")
        fsPerm.fold(fs.mkdirs(dirs))(fs.mkdirs(dirs, _))
        val ctx = new Path(s"$dir/c$i")
        fc.mkdir(ctx, fsPerm.getOrElse(FsPermission.getDirDefault), true)
        Seq(mode(s"$dir/f$i"), mode(s"$dir/d$i"), mode(s"$dir/d$i/e"), mode(s"$dir/c$i"),
          fs.getFileStatus(f).getPermission.toString)
      }
    }
    assert(modes(0) === modes(1))
    assert(modes(0).distinct.size > 2, s"vacuous: every path got one mode ${modes(0)}")
  }

  test("symlinks, dangling symlinks and missing paths give stock Hadoop's link status") {
    val dir = tempDir("forkless-links")
    Files.writeString(Paths.get(s"$dir/target"), "t")
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/target"))
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get(s"$dir/gone"))
    val forkless = FileContext.getFileContext(localUri, conf)
    val stock = FileContext.getFileContext(localUri, stockConf)
    for (name <- Seq("target", "link", "dangling")) {
      val p = new Path(s"$dir/$name")
      val (a, b) = (forkless.getFileLinkStatus(p), stock.getFileLinkStatus(p))
      assert(a.isSymlink === b.isSymlink, name)
      if (a.isSymlink) assert(a.getSymlink === b.getSymlink, name)
      assert(a.getPath === b.getPath, name)
      assert(a.isFile === b.isFile, name)
    }
    assert(forkless.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
    assert(forkless.getFileLinkStatus(new Path(s"$dir/dangling")).isSymlink)
    for (fc <- Seq(forkless, stock)) {
      intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(s"$dir/missing")))
      intercept[FileNotFoundException](fc.getFileStatus(new Path(s"$dir/missing")))
    }
    val raw = FileSystem.get(localUri, conf).asInstanceOf[LocalFileSystem].getRawFileSystem
    intercept[FileNotFoundException](raw.getFileLinkStatus(new Path(s"$dir/missing")))
  }
}

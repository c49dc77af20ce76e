package graft

import java.nio.file.{Files, Path => NioPath, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.gen.SequenceGen
import graft.maintenance.Maintenance
import graft.streaming.Incremental
import graft.table.{ForkFreeLocalFileSystem, LocalFileBinding, TokenTable}

/** Local table I/O starts no process: without Hadoop's native library the
  * stock local file system forks `chmod` for every file it creates and
  * `readlink` for every checkpoint rename. [[LocalFileBinding]] binds the
  * `file` scheme to classes that do neither, on confs the program owns. */
class LocalFileBindingSpec extends SparkSpec {

  /** `body`'s result and the `jdk.ProcessStart` events of this JVM while it ran. */
  private def processStarts[A](body: => A): (A, Seq[RecordedEvent]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val out = try body finally rec.stop()
    val f = Files.createTempFile(SparkTestSession.scratch, "forks-", ".jfr")
    try { rec.dump(f); (out, RecordingFile.readAllEvents(f).asScala.toSeq) }
    finally { rec.close(); Files.deleteIfExists(f) }
  }

  private def fileProcesses(events: Seq[RecordedEvent]): Seq[String] =
    events.map(_.getString("command"))
      .filter(c => Set("chmod", "readlink", "ls", "stat")(Paths.get(c.split(' ').head).getFileName.toString))

  private val bindingKeys =
    Seq("fs.file.impl", "fs.file.impl.disable.cache", "fs.AbstractFileSystem.file.impl")

  test("create, commit, merge, a merge-on-read stream, retire and GC start no chmod/readlink/ls/stat") {
    val root = tmpDir("forks")
    val src = s"$root/src"
    (0 until 3).foreach { b =>
      SequenceGen.sequences(spark, 20, seed = 100L + b)
        .withColumn("doc_id", concat(lit(s"s$b-"), col("doc_id")))
        .coalesce(1).write.mode("append").parquet(src)
    }
    val stream = spark.readStream.schema(TokenTable.sequenceSchema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val hadoopBefore = bindingKeys.map(k => k -> spark.sparkContext.hadoopConfiguration.get(k))
    val (t, events) = processStarts {
      val t = TokenTable.create(spark, s"$root/tbl")
      t.commit("append", t.stageWrite(SequenceGen.sequences(spark, 200), "seed"))
      Maintenance.mergeInto(spark, t, SequenceGen.sequences(spark, 50, seed = 7L))
      val q = Incremental.streamMergeMor(stream, s"$root/tbl", s"$root/ckpt", Trigger.AvailableNow())
      try q.awaitTermination() finally q.stop()
      q.exception.foreach(e => throw e)
      t.refresh()
      Maintenance.materializeDeletes(spark, t)
      t.removeOrphans(0L)
      t
    }
    assert(t.metadata.snapshots.count(_.summary.contains("stream-batch-id")) == 3,
      "the stream ran 3 committing triggers")
    assert(t.scan(spark).count() == 260)
    val forked = fileProcesses(events)
    assert(forked.isEmpty, s"${forked.size} file processes started:\n${forked.take(10).mkString("\n")}")
    // the binding lives on confs the program owns, never on the session's
    bindingKeys.foreach(k => assert(spark.conf.getOption(k).isEmpty, k))
    assert(bindingKeys.map(k => k -> spark.sparkContext.hadoopConfiguration.get(k)) == hadoopBefore)
    assert(!hadoopBefore.map(_._2).contains(classOf[ForkFreeLocalFileSystem].getName))
  }

  test("created files and directories get the permissions stock LocalFileSystem gives them") {
    Seq("022", "027", "077").foreach { umask =>
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      def perms(base: NioPath): Map[String, String] = {
        val walk = Files.walk(base)
        try walk.iterator().asScala.filter(_ != base).map(p =>
          base.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
        finally walk.close()
      }
      def exercise(fs: FileSystem, fc: FileContext, base: NioPath): Map[String, String] = {
        val b = new Path(base.toUri)
        fs.create(new Path(b, "a/b/file")).close()
        fs.mkdirs(new Path(b, "c/d"))
        fs.mkdirs(new Path(b, "e"), new FsPermission("750"))
        fs.create(new Path(b, "f"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
        fs.setPermission(new Path(b, "f"), new FsPermission("604"))
        fc.create(new Path(b, "g/h"), java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent()).close()
        fc.mkdir(new Path(b, "i/j"), FsPermission.getDirDefault, true)
        perms(base)
      }
      val stockBase = Files.createTempDirectory(SparkTestSession.scratch, "stock-")
      val stockFs = new LocalFileSystem()
      stockFs.initialize(stockBase.toUri, conf)
      val stock = exercise(stockFs, FileContext.getLocalFSFileContext(conf), stockBase)

      val boundConf = LocalFileBinding.bind(new Configuration(conf))
      val boundBase = Files.createTempDirectory(SparkTestSession.scratch, "bound-")
      val boundFs = new Path(boundBase.toUri).getFileSystem(boundConf)
      assert(boundFs.isInstanceOf[ForkFreeLocalFileSystem])
      val (bound, events) = processStarts(
        exercise(boundFs, FileContext.getLocalFSFileContext(boundConf), boundBase))
      assert(fileProcesses(events).isEmpty, s"umask $umask")
      assert(bound.keySet.exists(_.endsWith(".crc")), "checksum sidecars are written")
      assert(bound == stock, s"umask $umask")
    }
  }

  test("a table whose root path goes through a symlink commits and scans") {
    val real = Files.createDirectories(Paths.get(tmpDir("sym-real"), "tbl"))
    val link = Files.createSymbolicLink(Paths.get(tmpDir("sym-link"), "tbl"), real)
    val t = TokenTable.create(spark, link.toString)
    t.commit("append", t.stageWrite(SequenceGen.sequences(spark, 100), "seed"))
    Maintenance.mergeMor(spark, t, SequenceGen.sequences(spark, 30, seed = 9L)
      .withColumn("doc_id", concat(lit("x-"), col("doc_id"))))
    val again = TokenTable.load(spark, link.toString)
    assert(again.scan(spark).count() == 130)
    assert(Files.exists(real.resolve("metadata/v0.json")))
  }
}

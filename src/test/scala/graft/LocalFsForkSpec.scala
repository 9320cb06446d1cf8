package graft

import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileContext, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Regression guard: the engine starts no `chmod` or `readlink` process
  * (Hadoop's local filesystem does, once per created file and per
  * FileContext rename, when libhadoop is not loaded). One forked JVM,
  * whose PATH starts with `chmod` and `readlink` scripts that log each
  * call to a marker file, runs [[LocalFsForkProbe]]: a parquet write and
  * a stateful AvailableNow drain through `GraftSession.local()`, then
  * one call to each of Hadoop's forking methods as the control that
  * shows the scripts intercept.
  */
class LocalFsForkSpec extends SparkTestBase {

  test("a parquet write and a stateful drain start no chmod or readlink") {
    withTempDir("graft_nofork") { dir =>
      val bin = Files.createDirectory(dir.toPath.resolve("bin"))
      val marker = dir.toPath.resolve("marker.log")
      val path = sys.env.getOrElse("PATH", "/usr/bin:/bin")
      for (cmd <- Seq("chmod", "readlink")) {
        val real = path.split(':').map(Paths.get(_, cmd))
          .find(Files.isExecutable(_)).get
        val script = bin.resolve(cmd)
        Files.write(script, (s"""#!/bin/sh
          |echo "$cmd $$*" >> '$marker'
          |exec '$real' "$$@"
          |""".stripMargin).getBytes(UTF_8))
        Files.setPosixFilePermissions(script,
          java.nio.file.attribute.PosixFilePermissions.fromString("rwxr-xr-x"))
      }
      val jvmOpens = ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.toSeq.filter(_.startsWith("--add-opens"))
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
      val work = Files.createDirectory(dir.toPath.resolve("work"))
      val pb = new ProcessBuilder((Seq(javaBin.toString, "-Xmx1g") ++
        jvmOpens ++ Seq("-cp", System.getProperty("java.class.path"),
          LocalFsForkProbe.getClass.getName.stripSuffix("$"),
          work.toString)).asJava)
        .redirectErrorStream(true)
        .redirectOutput(dir.toPath.resolve("probe.log").toFile)
      pb.environment().put("PATH", s"$bin:$path")
      pb.environment().put("SPARK_GRAFT_CPUS", "2")
      val exit = pb.start().waitFor()
      val log = new String(Files.readAllBytes(dir.toPath.resolve(
        "probe.log")), UTF_8)
      assert(exit == 0, s"probe failed:\n${log.takeRight(4000)}")
      assert(log.contains("probe rows 10 50"), log.takeRight(2000))
      val calls = if (Files.exists(marker))
        Files.readAllLines(marker, UTF_8).asScala.toSeq else Seq.empty
      val control = work.resolve("control").toString
      val (controls, engine) = calls.partition(_.endsWith(control))
      assert(controls.map(_.takeWhile(_ != ' ')).sorted ==
        Seq("chmod", "readlink"), s"the scripts did not intercept: $calls")
      assert(engine.isEmpty, s"${engine.size} forked helpers, e.g. " +
        engine.take(5).mkString("; "))
    }
  }

  private def assertEngineFs(s: SparkSession): Unit = {
    val conf = s.sessionState.newHadoopConf()
    val root = URI.create("file:///")
    assert(FileSystem.get(root, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
  }

  test("file: resolves to the engine filesystem in a fresh session and a " +
    "drain-session clone") {
    assertEngineFs(spark.newSession())
    assertEngineFs(streaming.Streams.noEvictionDrainSession(spark))
  }
}

/** The forked side of [[LocalFsForkSpec]]: `main(workDir)`. */
object LocalFsForkProbe {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = GraftSession.local()
    import spark.implicits._
    (0L until 50L).map(i => (i % 10, i)).toDF("k", "v")
      .write.parquet(s"$work/in")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    val stream = streaming.Streams.fileSource(spark, s"$work/in", schema)
    streaming.Streams.drainToFiles(streaming.Streams.streamDedup(stream,
      Seq("k")), s"$work/out", s"$work/ckpt").start().awaitTermination()
    val drained = spark.read.parquet(s"$work/out").count()
    val written = spark.read.parquet(s"$work/in").count()
    println(s"probe rows $drained $written")
    spark.stop()
    // the control: Hadoop's own class forks once for each call
    val control = Paths.get(work, "control")
    Files.write(control, Array[Byte](1))
    val raw = new RawLocalFileSystem
    raw.initialize(URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    raw.setPermission(new Path(control.toString),
      new FsPermission(Integer.parseInt("644", 8).toShort))
    raw.getFileLinkStatus(new Path(control.toString))
  }
}

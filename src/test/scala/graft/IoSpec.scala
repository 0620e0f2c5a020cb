package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.LongType
import graft.io.{Io, NioLocalFileSystem}

/** The parquet I/O layer: [[Io.parquet]] yields exactly the schema
  * `read.parquet` infers, without the inference job, and the session's
  * local filesystem sets the same modes as Hadoop's without forking
  * `chmod`. */
class IoSpec extends SparkSpecBase {

  private def assertParity(p: String, footerPath: Boolean): Unit = {
    val want = spark.read.parquet(p).schema
    assert(Io.parquet(spark, p).schema == want, s"$p: ${Io.parquet(spark, p).schema} vs $want")
    assert(Io.dataSchema(spark, p).isDefined == footerPath,
      s"$p: expected the ${if (footerPath) "footer" else "fallback"} path")
  }

  /** An events table whose `ts` is a genuine INT64 TIMESTAMP(NANOS) column
    * (the first testdata vintage), which Spark reads only as nanosAsLong. */
  private def writeNanosEvents(dir: String): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val file = s"$dir/events.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val g = new SimpleGroupFactory(schema)
    try (0 until 3).foreach { i =>
      w.write(g.newGroup().append("event_id", i.toLong)
        .append("ts", 1614834367123456789L + i).append("user_id", 7L)
        .append("event_type", s"type$i").append("value", i * 1.5)
        .append("props", "{}"))
    } finally w.close()
    file
  }

  test("Io.parquet schema equals read.parquet inference on every fixture table") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
         f <- new java.io.File(sf).list().sorted if f.endsWith(".parquet"))
      assertParity(s"$sf/$f", footerPath = true)
    val nanos = writeNanosEvents(Files.createTempDirectory("graft-io-nanos").toString)
    assert(Io.parquet(spark, nanos).schema("ts").dataType == LongType,
      "INT64 TIMESTAMP(NANOS) did not read as nanosAsLong")
    assertParity(nanos, footerPath = true)
    // a missing path keeps read.parquet's own error
    val missing = s"${Files.createTempDirectory("graft-io-missing")}/nope"
    val e = intercept[org.apache.spark.sql.AnalysisException](Io.parquet(spark, missing))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("Io.parquet schema equals read.parquet inference on every artifact table, partitioned trees included") {
    val ds = Files.createTempDirectory("graft-io-families").toString
    for (f <- new java.io.File("/root/testdata/sf0.001").listFiles())
      Files.copy(f.toPath, Paths.get(ds, f.getName))
    val tag = s"@${Paths.get(ds).getFileName}-"
    try {
      Families.all.foreach { f => f.cold(ds); f.build(spark, ds) }
      // a table is a dir holding part files; a partitioned tree is a dir
      // of `col=value` dirs — anything else is walked into
      def tables(d: Path): Seq[(String, Boolean)] = {
        val kids = d.toFile.listFiles().toList.map(_.toPath)
        val names = kids.map(_.getFileName.toString)
        if (names.exists(n => n.startsWith("part-") && n.endsWith(".parquet")))
          Seq(d.toString -> false)
        else if (kids.exists(k => Files.isDirectory(k) && k.getFileName.toString.contains("=")))
          Seq(d.toString -> true)
        else kids.filter(Files.isDirectory(_)).flatMap(tables)
      }
      val artifacts = ops.Warehouse.root.toFile.listFiles().toList.map(_.toPath)
        .filter(_.getFileName.toString.contains(tag))
      val found = artifacts.flatMap(tables)
      val families = artifacts.map(_.getFileName.toString.takeWhile(_ != '@')).toSet
      assert(families == Set("ivf", "kmeans", "sig", "textdup", "funnel", "freq",
        "keywords", "neardup", "cube", "gcache", "gtiff"), s"families built: $families")
      assert(found.count(_._2) >= 2 && found.count(!_._2) >= 20,
        s"too few tables walked: $found")
      for ((p, partitioned) <- found) assertParity(p, footerPath = !partitioned)
    } finally {
      ops.Warehouse.invalidateDataset(ds)
      Families.all.foreach(_.clearCaches())
    }
  }

  test("reading an unpartitioned table through Io.parquet launches no Spark job") {
    val sc = spark.sparkContext
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    val p = "/root/testdata/sf0.001/lineitem.parquet"
    val g = s"io-helper-${System.nanoTime()}"
    inGroup(g)(Io.parquet(spark, p))
    // the plain read's inference job proves the counter sees such jobs;
    // status events arrive in order, so once it shows, the helper's would
    // have too
    inGroup(g + "-plain")(spark.read.parquet(p))
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(g + "-plain").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(g + "-plain").nonEmpty,
      "the schema-inference job of plain read.parquet was not observed")
    assert(sc.statusTracker.getJobIdsForGroup(g).isEmpty,
      s"Io.parquet launched jobs ${sc.statusTracker.getJobIdsForGroup(g).toSeq}")
  }

  test("src/main spells a parquet read only through Io.parquet") {
    val spelling = "\\.read\\.parquet\\(".r
    val files = IoSpec.mainSources()
    val helper = files.filter(_.getFileName.toString == "Io.scala")
    assert(helper.size == 1 && spelling.findFirstIn(Files.readString(helper.head)).isDefined,
      "the helper itself must hold the one spelling")
    val offenders = for {
      f <- files if f.getFileName.toString != "Io.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if spelling.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("a warehouse write sets Hadoop's modes without forking chmod") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    assert(new org.apache.hadoop.fs.Path("file:///").getFileSystem(hc)
      .isInstanceOf[NioLocalFileSystem], "session file: filesystem is not the NIO one")
    val df = (0 until 100).map(i => (i.toLong, s"r$i")).toDF("id", "s").repartition(2)
    val base = Files.createTempDirectory("graft-io-modes")
    def chmodsDuring(body: => Unit): Int = {
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val out = Files.createTempFile(base, "rec", ".jfr")
      rec.dump(out)
      rec.close()
      RecordingFile.readAllEvents(out).asScala
        .count(e => Option(e.getString("command")).exists(_.contains("chmod")))
    }
    val nio = base.resolve("nio")
    val stock = base.resolve("stock")
    assert(chmodsDuring(ops.Warehouse.writeParquet(df, nio.toString)) == 0)
    // the same write through the `file:` filesystem a session without
    // the override resolves (uncached, so this write alone uses it): the
    // modes it sets are the reference
    val stockFs = org.apache.hadoop.fs.FileSystem.getFileSystemClass("file",
      new org.apache.hadoop.conf.Configuration())
    assert(!classOf[NioLocalFileSystem].isAssignableFrom(stockFs))
    val stockChmods = chmodsDuring(df.write
      .option("fs.file.impl", stockFs.getName)
      .option("fs.file.impl.disable.cache", "true")
      .parquet(stock.toString))
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(stockChmods > 0, "the stock write forked no chmod: the recording saw nothing")
    def modes(root: Path): (Map[String, Int], Set[String], Set[String]) = {
      val all = Files.walk(root).iterator().asScala.toList.filterNot(_ == root)
      def mode(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      val (dirs, files) = all.partition(Files.isDirectory(_))
      val kinds = files.groupBy { f =>
        val n = f.getFileName.toString
        if (n.endsWith(".crc")) "crc" else if (n.startsWith("part-")) "part" else n
      }.map { case (k, v) => k -> v.size }
      (kinds, files.map(mode).toSet, (root :: dirs).map(mode).toSet)
    }
    val (nioKinds, nioFiles, nioDirs) = modes(nio)
    val (stockKinds, stockFiles, stockDirs) = modes(stock)
    assert(nioKinds == stockKinds, s"$nioKinds vs $stockKinds")
    assert(nioFiles == Set("rw-r--r--") && nioDirs == Set("rwxr-xr-x"), s"$nioFiles $nioDirs")
    assert(stockFiles == nioFiles && stockDirs == nioDirs, s"stock: $stockFiles $stockDirs")
  }
}

object IoSpec {
  /** Every Scala source under `src/main`: the file set the source lints
    * walk. */
  def mainSources(): List[Path] = {
    val main = Paths.get("src/main")
    require(Files.isDirectory(main), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala")).toList
  }
}

package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.sources.v2.GraftPartitionReader
import graft.table.StreamTable
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Every graft file open and sink write starts from
  * [[StreamTable.hadoopConf]]: a copy of one loaded base whose content is
  * that of `new Configuration()`, so opening a file parses no XML. */
class HadoopConfSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_conf_").toString

  /** Every entry as stored, and every value as `get` resolves it. */
  private def entries(c: Configuration): Map[String, (String, String)] =
    c.iterator().asScala.map(e => e.getKey -> (e.getValue -> c.get(e.getKey))).toMap

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("hadoopConf has the content of new Configuration(), entry for entry") {
    val fresh = new Configuration()
    val copy = StreamTable.hadoopConf()
    assert(entries(copy) == entries(fresh))
    assert(copy.size() == fresh.size() && copy.size() > 0)
    assert(copy.toString == fresh.toString, "the same resources, in order")
    assert(copy.getClassLoader eq fresh.getClassLoader)
    // a key set on one copy stays on that copy
    copy.set(ParquetOutputFormat.BLOCK_SIZE, "1234")
    assert(StreamTable.hadoopConf().get(ParquetOutputFormat.BLOCK_SIZE) == null)
    assert(new Configuration().get(ParquetOutputFormat.BLOCK_SIZE) == null)
  }

  test("a default resource registered after the base loaded reaches later copies") {
    assert(StreamTable.hadoopConf().get("graft.conf.probe") == null)
    Configuration.addDefaultResource("graft-conf-probe-default.xml")
    assert(StreamTable.hadoopConf().get("graft.conf.probe") == "loaded")
    assert(entries(StreamTable.hadoopConf()) == entries(new Configuration()))
  }

  test("two row readers of one file keep their own projections") {
    val root = tmp()
    val t = new StreamTable(root, spark)
    t.appendBatch(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n")
      .repartition(1), 0)
    val Seq(path) = t.latestSnapshot.get.files.map(_.path)
    def reader(col: String, dt: DataType) =
      new GraftPartitionReader(path, StructType(Seq(StructField(col, dt))), Array.empty)
    def drain[T](r: GraftPartitionReader, get: InternalRow => T): Seq[T] =
      try Iterator.continually(r).takeWhile(_.next()).map(x => get(x.get())).toList
      finally r.close()
    // both built before either reads: the row reader takes its read
    // schema from its configuration at the first read
    val v = reader("v", StringType)
    val n = reader("n", LongType)
    assert(drain(v, _.getUTF8String(0).toString).sorted == Seq("a", "b"))
    assert(drain(n, _.getLong(0)).sorted == Seq(10L, 20L))
  }

  test("concurrent reads of the same files: projections, a PK merge and a " +
      "changelog read answer as they do alone") {
    val pkRoot = tmp()
    val pk = new StreamTable(pkRoot, spark, primaryKey = Some(Seq("id")))
    pk.appendBatch(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "n"), 0)
    pk.appendBatch(Seq((1L, "a2", 11L), (4L, "d", 40L)).toDF("id", "v", "n"), 1)
    pk.deleteBatch(Seq(Tuple1(2L)).toDF("id"), 2)
    val last = pk.latestSnapshot.get.id
    val appendRoot = tmp()
    val ap = new StreamTable(appendRoot, spark)
    (0 until 3).foreach(b => ap.appendBatch(
      (0 until 50).map(i => (b * 50L + i, s"v$i", i * 1.5)).toDF("id", "v", "x"), b))
    val reads: Seq[() => Seq[String]] = Seq(
      () => rows(pk.read.select("id", "v")),
      () => rows(pk.read.select("n")),
      () => rows(spark.read.format("graft").load(pkRoot).select("v", "n")),
      () => rows(pk.changelogWithRetractions(0, last)),
      () => rows(spark.read.format("graft").load(appendRoot).select("v")),
      () => rows(spark.read.format("graft").load(appendRoot).select("x", "id")),
      () => rows(ap.read.where($"id" % 7 === 0).select("id")))
    val alone = reads.map(_())
    assert(alone(0) == Seq("[1,a2]", "[3,c]", "[4,d]"))
    assert(alone(3).size == 4, alone(3))
    val pool = Executors.newFixedThreadPool(4)
    try {
      val runs = (0 until 3).flatMap(_ => reads.indices).map { i =>
        i -> pool.submit(new Callable[Seq[String]] { def call() = reads(i)() })
      }
      runs.foreach { case (i, f) =>
        assert(f.get(120, TimeUnit.SECONDS) == alone(i), s"read $i")
      }
    } finally pool.shutdownNow()
  }

  /** Each `src/main` Scala file with its comment lines and trailing line
    * comments blanked (line numbers kept). */
  private def mainSources: Seq[(String, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.map { p =>
      val code = new String(Files.readAllBytes(p), UTF_8).split("\n", -1).map { l =>
        val t = l.trim
        if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
        else l.replaceAll("""\s//\s.*$""", "")
      }.mkString("\n")
      root.relativize(p).toString -> code
    } finally s.close()
  }

  test("source guard: src/main builds no Configuration outside StreamTable.hadoopConf") {
    def lineOf(code: String, at: Int) = code.substring(0, at).count(_ == '\n') + 1
    val found = mainSources.flatMap { case (file, code) =>
      def hits(re: String) = re.r.findAllMatchIn(code).map(m =>
        (m.start, s"$file:${lineOf(code, m.start)}: ${code.linesIterator
          .drop(lineOf(code, m.start) - 1).next().trim}")).toList
      val fresh = hits("""new\s+(?:org\.apache\.hadoop\.conf\.)?Configuration\s*\(\s*\)""")
        .filterNot { case (_, l) =>
          file.endsWith("graft/table/StreamTable.scala") && l.contains("baseHadoopConf =")
        }
      val builder = hits("""ParquetReader\s*\.\s*builder\s*\(""")
      // ParquetFileReader.open with one argument: no comma at the top level
      // of its argument list
      val oneArgOpen = hits("""ParquetFileReader\s*\.\s*open\s*\(""").filter { case (at, _) =>
        val open = code.indexOf('(', at)
        var depth = 0
        var i = open
        var commas = 0
        do {
          code(i) match {
            case '(' | '[' | '{' => depth += 1
            case ')' | ']' | '}' => depth -= 1
            case ',' if depth == 1 => commas += 1
            case _ =>
          }
          i += 1
        } while (depth > 0)
        commas == 0
      }
      (fresh ++ builder ++ oneArgOpen).map(_._2)
    }
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
    val helper = mainSources.filter(_._1.endsWith("graft/table/StreamTable.scala"))
      .map(_._2.linesIterator.count(_.contains("baseHadoopConf = new")))
    assert(helper == Seq(1), "the one base configuration is where the guard expects it")
  }
}

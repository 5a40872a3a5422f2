package graft

import java.nio.file.Files

import graft.table.StreamTable
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY.md §5.3): upsert view ≡ fold of puts, dedup
  * idempotence. ScalaCheck generators are sampled with fixed seeds (the
  * scalatest-scalacheck bridge isn't in the offline cache). */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private val opsGen: Gen[List[(Long, Long, String)]] = {
    val op = for {
      key <- Gen.choose(0L, 5L)
      seq <- Gen.choose(0L, 1000L)
      v   <- Gen.alphaStr.map(_.take(6))
    } yield (key, seq, v)
    Gen.listOfN(20, op)
  }

  test("PK table read view ≡ in-memory fold of puts (last-writer-wins)") {
    for (seed <- 1L to 4L) {
      val ops = opsGen.apply(Gen.Parameters.default, Seed(seed)).get
      val t = new StreamTable(Files.createTempDirectory("graft_prop_").toString,
        spark, primaryKey = Some(Seq("id")), seqCol = Some("seq"))
      // each op becomes its own micro-batch, in order
      ops.zipWithIndex.foreach { case ((k, sq, v), i) =>
        t.appendBatch(Seq((k, sq, v)).toDF("id", "seq", "v"), i.toLong)
      }
      // reference model (Paimon sequence.field): the LARGEST sequence value
      // wins regardless of batch order; batch id breaks sequence ties
      val expect = ops.zipWithIndex
        .groupBy(_._1._1)
        .map { case (k, group) => k -> group.maxBy { case ((_, sq, _), i) => (sq, i) }._1._3 }
      val got = t.read.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(got == expect, s"seed=$seed ops=$ops")
    }
  }

  test("partial-update read view ≡ per-field fold, under random batching and compaction") {
    // rows carry (key, seq, two independently-nullable fields); the merged
    // state must equal the per-field last-non-null fold by (seq, batch) —
    // independent of how ops split into batches and of a mid-stream
    // compaction (which exercises the persisted per-field sequences)
    val pOpsGen: Gen[List[(Long, Long, Option[String], Option[Long])]] =
      Gen.listOfN(24, for {
        key <- Gen.choose(0L, 4L)
        seq <- Gen.choose(0L, 50L)
        a   <- Gen.option(Gen.alphaStr.map(_.take(4)))
        b   <- Gen.option(Gen.choose(0L, 99L))
      } yield (key, seq, a, b))
    for (seed <- 1L to 4L) {
      val ops = pOpsGen.apply(Gen.Parameters.default, Seed(seed)).get
      val t = new StreamTable(Files.createTempDirectory("graft_pprop_").toString,
        spark, primaryKey = Some(Seq("id")), seqCol = Some("seq"),
        mergeEngine = "partial-update")
      val batches = ops.zipWithIndex.grouped(5).toSeq
      batches.zipWithIndex.foreach { case (chunk, bi) =>
        t.appendBatch(chunk.map { case ((k, sq, a, b), _) =>
          (k, sq, a.orNull, b.map(Long.box).orNull) }.toDF("id", "seq", "a", "b"), bi.toLong)
        if (bi == batches.size / 2) t.compact(targetFileCount = 1)
      }
      // reference model: per field, the value set by the op with the largest
      // (seq, op-index-within-everything) among non-null setters; ties on
      // (seq, batch) break by LARGER VALUE (documented determinism rule), so
      // order the fold by ((seq, batchId), value)
      def fold[V: Ordering](sets: Seq[((Long, Int), V)]): Option[V] =
        sets.sortBy { case ((sq, b), v) => ((sq, b), v) }.lastOption.map(_._2)
      val byKey = ops.zipWithIndex.groupBy(_._1._1)
      val expect = byKey.map { case (k, group) =>
        val tagged = group.map { case ((_, sq, a, b), i) => ((sq, i / 5), a, b) }
        k -> (fold(tagged.collect { case (o, Some(a), _) => (o, a) }),
          fold(tagged.collect { case (o, _, Some(b)) => (o, b) }))
      }
      val got = t.read.collect().map(r => r.getLong(0) ->
        ((Option(r.getString(2)), if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
      assert(got == expect, s"seed=$seed ops=$ops")
    }
  }

  // ---- door agreement: every PK merge engine through every read door ------

  /** One PK merge engine under test. `row` draws a random image for key
    * `k`; `fold` is the model: one key's ops in write order (write index,
    * the row, whether it is a delete) to the key's resolved row over
    * `view` (the read schema's columns, by default every column), if any.
    * The table compacts after each batch in `compactAt`; batches arrive
    * through `appendBatch` and the streaming sink. */
  private case class PkEngine(name: String,
      schema: org.apache.spark.sql.types.StructType, props: String,
      deletes: Boolean, row: (Long, scala.util.Random) => Seq[Any],
      fold: Seq[(Int, Seq[Any], Boolean)] => Option[Seq[Any]],
      view: Option[Seq[String]] = None, compactAt: Set[Int] = Set(2))

  private def pkEngines: Seq[PkEngine] = {
    import org.apache.spark.sql.types._
    def st(fs: (String, DataType)*) =
      StructType(fs.map { case (n, t) => StructField(n, t) })
    def str(r: scala.util.Random) = r.alphanumeric.take(3).mkString
    def opt[T](r: scala.util.Random, v: => T): Any =
      if (r.nextInt(4) == 0) null else v
    // per field, the non-null value of the largest (sequence, write index)
    def lastNonNull(ops: Seq[(Int, Seq[Any], Boolean)], seqOf: Seq[Any] => Long,
        j: Int): Any = {
      val set = ops.filter(_._2(j) != null)
      if (set.isEmpty) null else set.maxBy(o => (seqOf(o._2), o._1))._2(j)
    }
    Seq(
      PkEngine("dedup_seq", st("id" -> LongType, "ver" -> LongType, "v" -> StringType),
        "'sequence.field' = 'ver'", deletes = true,
        (k, r) => Seq(k, r.nextInt(6).toLong, str(r)),
        ops => {
          val w = ops.maxBy(o => (o._2(1).asInstanceOf[Long], o._1))
          if (w._3) None else Some(w._2)
        }),
      PkEngine("dedup", st("id" -> LongType, "v" -> StringType), "", deletes = true,
        (k, r) => Seq(k, str(r)),
        ops => Some(ops.last).filterNot(_._3).map(_._2)),
      PkEngine("first_row", st("id" -> LongType, "v" -> StringType),
        "'merge-engine' = 'first-row'", deletes = false,
        (k, r) => Seq(k, str(r)), ops => Some(ops.head._2)),
      PkEngine("agg",
        st("id" -> LongType, "s" -> LongType, "d" -> DoubleType,
          "lo" -> LongType, "hi" -> DoubleType),
        "'merge-engine' = 'aggregation', 'fields.s.aggregate-function' = 'sum', " +
          "'fields.d.aggregate-function' = 'sum', " +
          "'fields.lo.aggregate-function' = 'min', " +
          "'fields.hi.aggregate-function' = 'max'", deletes = false,
        // halves keep every DOUBLE sum exact in any fold order
        (k, r) => Seq(k, r.nextInt(100).toLong - 50, r.nextInt(40) * 0.5 - 10,
          opt(r, r.nextInt(100).toLong - 50), r.nextInt(40) * 0.5 - 10),
        ops => {
          val rs = ops.map(_._2)
          def nn(j: Int) = rs.map(_(j)).filter(_ != null)
          val lo = nn(3).map(_.asInstanceOf[Long])
          Some(Seq(rs.head.head, nn(1).map(_.asInstanceOf[Long]).sum,
            nn(2).map(_.asInstanceOf[Double]).sum,
            if (lo.isEmpty) null else lo.min, nn(4).map(_.asInstanceOf[Double]).max))
        }),
      PkEngine("partial",
        st("id" -> LongType, "seq" -> LongType, "a" -> StringType, "b" -> LongType),
        "'merge-engine' = 'partial-update', 'sequence.field' = 'seq'", deletes = false,
        (k, r) => Seq(k, r.nextInt(6).toLong, opt(r, str(r)), opt(r, r.nextInt(99).toLong)),
        ops => {
          val seqOf = (x: Seq[Any]) => x(1).asInstanceOf[Long]
          Some(Seq(ops.head._2.head, ops.map(o => seqOf(o._2)).max,
            lastNonNull(ops, seqOf, 2), lastNonNull(ops, seqOf, 3)))
        }),
      // the sequence-ordered folds and an exact DECIMAL sum, under
      // out-of-order sequence values and two compactions mid-stream: the
      // read view is the key and the aggregated fields
      PkEngine("agg_ordered",
        st("id" -> LongType, "seq" -> LongType, "amt" -> DecimalType(5, 1),
          "tags" -> StringType, "arr" -> ArrayType(StringType),
          "m" -> MapType(StringType, StringType), "last" -> StringType),
        "'merge-engine' = 'aggregation', 'sequence.field' = 'seq', " +
          "'fields.amt.aggregate-function' = 'sum', " +
          "'fields.tags.aggregate-function' = 'listagg', " +
          "'fields.arr.aggregate-function' = 'collect', " +
          "'fields.m.aggregate-function' = 'merge_map', " +
          "'fields.last.aggregate-function' = 'last_non_null_value'", deletes = false,
        (k, r) => Seq(k, r.nextInt(6).toLong,
          opt(r, new java.math.BigDecimal(r.nextInt(2000) - 1000).movePointLeft(1)),
          opt(r, str(r)), opt(r, Seq.fill(r.nextInt(3))(str(r))),
          opt(r, Seq.fill(1 + r.nextInt(2))(s"k${r.nextInt(3)}" -> str(r)).toMap),
          opt(r, str(r))),
        ops => {
          // every contribution in (sequence, write index) order: one key is
          // written at most once per batch, so the order is total
          val set = ops.map(_._2).zip(ops.map(_._1))
            .sortBy { case (x, i) => (x(1).asInstanceOf[Long], i) }.map(_._1)
          def nn(j: Int) = set.map(_(j)).filter(_ != null)
          def some[T](xs: Seq[T])(f: Seq[T] => Any) = if (xs.isEmpty) null else f(xs)
          Some(Seq(ops.head._2.head,
            some(nn(2).map(_.asInstanceOf[java.math.BigDecimal]))(_.reduce(_ add _)),
            some(nn(3))(_.mkString(",")),
            some(nn(4).map(_.asInstanceOf[Seq[String]]))(_.flatten),
            some(nn(5).map(_.asInstanceOf[Map[String, String]]))(_.reduce(_ ++ _)),
            some(nn(6))(_.last)))
        },
        view = Some(Seq("id", "amt", "tags", "arr", "m", "last")),
        compactAt = Set(2, 4)))
  }

  test("PK doors agree: library, connector and model, every engine, both writers") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    val wh = Files.createTempDirectory("graft_pdoor_wh_").toString
    val cat = s"gpd_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val gc = new graft.table.GraftCatalog(spark, wh)
    val shell = new graft.table.GraftSql(spark, wh)
    shell.sql("USE db")
    // arrays, maps and decimals print the same from a Row and the model
    def show(v: Any): String = v match {
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"${show(k)}=${show(x)}" }.sorted.mkString("{", ",", "}")
      case xs: scala.collection.Seq[_] => xs.map(show).mkString("[", ",", "]")
      case d: java.math.BigDecimal => d.toPlainString
      case other => String.valueOf(other)
    }
    def canon(rows: Seq[Row]): Seq[String] =
      rows.map(_.toSeq.map(show).mkString("|")).sorted
    def canonModel(rows: Iterable[Seq[Any]], op: Option[String] = None): Seq[String] =
      rows.map(r => (r.map(show) ++ op).mkString("|")).toSeq.sorted
    for (e <- pkEngines; seed <- 1L to 2L) {
      val rnd = new scala.util.Random(seed * 31 + e.name.hashCode)
      val name = s"${e.name}_$seed"
      val cols = e.view.getOrElse(e.schema.fieldNames.toSeq)
      val ddl = e.schema.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      spark.sql(s"CREATE TABLE $cat.db.$name ($ddl) TBLPROPERTIES (" +
        s"'primary-key' = 'id', 'bucket' = '2'${if (e.props.isEmpty) "" else ", " + e.props})")
      val t = gc.getTable("db", name)
      val root = t.root
      def frame(rows: Seq[Seq[Any]], schema: org.apache.spark.sql.types.StructType) =
        spark.createDataFrame(rows.map(r => Row(r: _*)).asJava, schema)
      def nextBatch = t.latestSnapshot.map(_.batchId + 1).getOrElse(0L)
      val chk = Files.createTempDirectory("graft_pdoor_clog_").toString
      def drain(): Seq[String] = {
        val buf = java.util.Collections.synchronizedList(new java.util.ArrayList[Row]())
        spark.readStream.format("graft").option("read-changelog", "true").load(root)
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            buf.addAll(df.select((cols :+ "op").map(org.apache.spark.sql.functions.col): _*)
              .collect().toSeq.asJava); ()
          }
          .option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
        canon(buf.asScala.toSeq)
      }
      // the model: every op in write order, and the state after each commit
      val ops = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Seq[Any], Boolean)]
      def state: Map[Long, Seq[Any]] = ops.groupBy(_._1).flatMap { case (k, os) =>
        e.fold(os.toSeq.map(o => (o._2, o._3, o._4))).map(k -> _) }
      val states = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[Long, Seq[Any]])]
      var clogFrom = -1L
      for (b <- 0 until 6) {
        val keys = rnd.shuffle((0L to 5L).toList).take(1 + rnd.nextInt(4))
        val kind =
          if (b == 0) "append" else if (b == 1) "sink"
          else if (e.deletes && rnd.nextInt(4) == 0) "delete"
          else if (rnd.nextBoolean()) "sink" else "append"
        if (kind == "delete") {
          // a delete carries the sequence field when the table declares one
          val dels = keys.map(k =>
            if (cols.contains("ver")) Seq(k, rnd.nextInt(6).toLong) else Seq(k))
          val pkCols = if (cols.contains("ver")) Seq("id", "ver") else Seq("id")
          t.deleteBatch(frame(dels, org.apache.spark.sql.types.StructType(
            pkCols.map(c => e.schema(c)))), nextBatch)
          dels.foreach(d => ops += ((d.head.asInstanceOf[Long], b,
            Seq(d.head) ++ d.drop(1) ++ Seq.fill(cols.size - d.size)(null), true)))
        } else {
          val rows = keys.map(k => e.row(k, rnd))
          if (kind == "append") t.appendBatch(frame(rows, e.schema), nextBatch)
          else {
            val src = Files.createTempDirectory("graft_pdoor_src_").toString
            new StreamTable(src, spark).appendBatch(frame(rows, e.schema), 0L)
            spark.readStream.format("graft").load(src).writeStream
              .option("checkpointLocation",
                Files.createTempDirectory("graft_pdoor_chk_").toString)
              .trigger(Trigger.AvailableNow()).toTable(s"$cat.db.$name")
              .awaitTermination()
          }
          rows.foreach(r => ops += ((r.head.asInstanceOf[Long], b, r, false)))
        }
        states += (t.latestSnapshot.get.id -> state)
        if (e.compactAt(b)) {
          t.compact(targetFileCount = 1)
          states += (t.latestSnapshot.get.id -> state)
        }
        if (b == 1) {
          // catch-up: the current state as +I
          assert(drain() == canonModel(state.values, Some("+I")),
            s"$name: changelog catch-up")
          clogFrom = t.latestSnapshot.get.id
        }
      }
      val ctx = s"$name ops=$ops"
      for ((id, model) <- states) {
        val want = canonModel(model.values)
        assert(canon(t.readAt(id).select(cols.head, cols.tail: _*).collect()) == want,
          s"$ctx: library readAt($id)")
        assert(canon(spark.sql(s"SELECT ${cols.mkString(", ")} FROM $cat.db.$name " +
          s"VERSION AS OF $id").collect()) == want, s"$ctx: connector VERSION AS OF $id")
      }
      val head = canonModel(states.last._2.values)
      assert(canon(t.read.select(cols.head, cols.tail: _*).collect()) == head,
        s"$ctx: library read")
      assert(canon(spark.read.format("graft").load(root)
        .select(cols.head, cols.tail: _*).collect()) == head, s"$ctx: format(graft)")
      assert(canon(shell.sql(s"SELECT ${cols.mkString(", ")} FROM $name").collect()) ==
        head, s"$ctx: shell")
      // one interval on a table without a changelog producer: the stream's
      // state diff equals the library's retraction changelog
      val oracle = canon(t.changelogWithRetractions(clogFrom, t.latestSnapshot.get.id)
        .select((cols :+ "op").map(org.apache.spark.sql.functions.col): _*).collect())
      assert(drain() == oracle, s"$ctx: changelog interval ($clogFrom, head]")
    }
  }

  test("TopKPairs ≡ sort-take on random data, under any partitioning") {
    import org.apache.spark.sql.functions._
    graft.functions.TopKFunctions.registerOn(spark)
    for (seed <- 1L to 3L) {
      val pairs = new scala.util.Random(seed)
      val rows = Seq.tabulate(500)(i =>
        (i % 7, pairs.nextInt(50) / 10.0, i.toLong)) // few groups, many score ties
      val df = rows.toDF("g", "score", "id").repartition(8)
      val got = df.groupBy("g").agg(expr("topk_pairs(score, id, 5)").as("tk"))
        .select(col("g"), explode(col("tk")).as("t"))
        .collect().map(r => (r.getInt(0), r.getStruct(1).getDouble(0),
          r.getStruct(1).getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
      val expect = rows.groupBy(_._1).view.mapValues(
        _.map(t => (t._2, t._3)).sortBy { case (s, id) => (-s, id) }.take(5)).toMap
      assert(got == expect, s"seed=$seed")
    }
  }

  test("TopKPairs rejects non-positive and NULL k at analysis time") {
    import org.apache.spark.sql.functions._
    graft.functions.TopKFunctions.registerOn(spark)
    val df = Seq((1, 1.0, 1L)).toDF("g", "score", "id")
    for (badK <- Seq("0", "-3", "CAST(NULL AS INT)", "4294967296")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.groupBy("g").agg(expr(s"topk_pairs(score, id, $badK)")).collect()
      }
      assert(e.getMessage.contains("topk_pairs"), s"k=$badK: ${e.getMessage}")
    }
  }

  test("pageRankMicro ≡ in-memory integer recurrence on random graphs") {
    val pairGen: Gen[List[(Long, Long)]] = Gen.listOfN(60, for {
      a <- Gen.choose(0L, 25L)
      b <- Gen.choose(0L, 25L) if a != b
    } yield (a, b))
    for (seed <- 1L to 3L) {
      val e0 = pairGen.apply(Gen.Parameters.default, Seed(seed)).get.distinct
      // reference: the exact recurrence over the DEDUPED symmetric closure
      // (reciprocal input pairs — present in these random samples — must
      // not double their edge weight)
      val sym = (e0 ++ e0.map { case (a, b) => (b, a) }).distinct
      val outdeg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      var ref = outdeg.keys.map(_ -> 1000000L).toMap
      for (_ <- 1 to 4) {
        val contrib = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        for ((s, d) <- sym) contrib(d) += ref(s) / outdeg(s)
        ref = contrib.map { case (id, c) => id -> (15000000L + 85L * c) / 100L }.toMap
      }
      val got = graft.ops.Curation.pageRankMicro(
        e0.toDF("src", "dst"), iters = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref, s"seed $seed")
    }
  }

  test("CmsSketch ≡ per-cell exact counts and never underestimates, any partitioning") {
    import org.apache.spark.sql.functions._
    graft.functions.CmsFunctions.registerOn(spark)
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed)
      val words = Seq.fill(400)(s"w${rnd.nextInt(30)}")
      val df = words.toDF("w").repartition(7)
      def bkt(d: Int) = expr(
        s"CAST((((instr('0123456789abcdef', substring(md5(concat('$d:', w)), 1, 1)) - 1) * 16 + " +
          s"(instr('0123456789abcdef', substring(md5(concat('$d:', w)), 2, 1)) - 1)) % 64) AS INT)")
      val sk = df.withColumn("bks", array((0 until 4).map(bkt): _*))
        .agg(expr("cms_sketch(bks)")).collect()(0).getSeq[Long](0)
      assert(sk.length == 256 && sk.sum == 400L * 4)
      // every distinct word's min-cell estimate dominates its true count
      val est = df.withColumn("bks", array((0 until 4).map(bkt): _*))
        .select(col("w"), col("bks")).distinct().collect()
        .map(r => r.getString(0) ->
          (0 until 4).map(d => sk(d * 64 + r.getSeq[Int](1)(d))).min)
        .toMap
      val truth = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      for ((w, n) <- truth) assert(est(w) >= n, s"seed=$seed word=$w")
    }
  }

  test("SQ8 codes bound the reconstruction error by half a grid step per dim") {
    import org.apache.spark.sql.functions._
    val rows = run("q_ext_sq8_encode")
    // SSE ≤ 64 · (step/2)²: recover the per-dim grid step from the corpus
    val emb = Tables.embeddings(spark, SparkFixture.sf)
    val spans = (1 to 64).map(d =>
      max(expr(s"CAST(element_at(embedding, $d) AS DOUBLE)")) -
        min(expr(s"CAST(element_at(embedding, $d) AS DOUBLE)")))
    val spanRow = emb.agg(spans.head, spans.tail: _*).collect()(0)
    val bound = (0 until 64).map(i => math.pow(spanRow.getDouble(i) / 255.0 / 2.0, 2)).sum
    val maxSse = rows.agg(max(col("sse_nano"))).collect()(0).getLong(0) / 1e9
    assert(maxSse <= bound * 1.0000001, s"SSE $maxSse exceeds bound $bound")
  }

  private def run(name: String) = SparkEntry.queries(name)(spark, SparkFixture.sf)

  test("deleteWhere/updateWhere ≡ model filter/map for arbitrary data and batching") {
    import org.apache.spark.sql.functions.{col, lit}
    val gen = for {
      n   <- Gen.choose(1, 100)
      xs  <- Gen.listOfN(n, Gen.choose(-1000L, 1000L))
      cut <- Gen.choose(-500L, 500L)
    } yield (xs, cut)
    for (seed <- 1L to 3L) {
      val (xs, cut) = gen.apply(Gen.Parameters.default, Seed(seed)).get
      val data = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      val t = new StreamTable(Files.createTempDirectory("graft_rowop_").toString,
        spark)
      data.grouped(math.max(1, data.size / 4)).zipWithIndex.foreach {
        case (g, b) => t.appendBatch(g.toDF("id", "x"), b.toLong)
      }
      // UPDATE then DELETE, mirrored on a plain Scala model
      val nUpd = t.updateWhere(col("x") > cut, Seq("x" -> (col("x") + lit(1L))))
      val model1 = data.map { case (i, x) => (i, if (x > cut) x + 1 else x) }
      assert(nUpd == data.count(_._2 > cut), s"seed $seed: update count")
      val nDel = t.deleteWhere(col("x") < 0L)
      val model2 = model1.filterNot(_._2 < 0)
      assert(nDel == model1.count(_._2 < 0), s"seed $seed: delete count")
      val got = t.read.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == model2.sorted, s"seed $seed: table diverged from model")
    }
  }

  test("sortCompact conserves the multiset for arbitrary data and batching") {
    val gen = for {
      n  <- Gen.choose(1, 120)
      xs <- Gen.listOfN(n, Gen.zip(Gen.choose(-1e6, 1e6), Gen.choose(-50.0, 50.0)))
    } yield xs
    for (seed <- 1L to 3L) {
      val data = gen.apply(Gen.Parameters.default, Seed(seed)).get
        .zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      val t = new StreamTable(Files.createTempDirectory("graft_zprop_").toString,
        spark)
      data.grouped(math.max(1, data.size / 3)).zipWithIndex.foreach {
        case (g, b) => t.appendBatch(g.toDF("id", "x", "y"), b.toLong)
      }
      t.sortCompact("x", "y", targetFileCount = 4)
      val got = t.read.collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
      assert(got == data.sorted.toSeq, s"seed $seed: rewrite altered the data")
    }
  }

  test("exact dedup output has unique doc_ids (projection property)") {
    val d1 = SparkEntry.queries("q_ext_exact_dedup")(spark, SparkFixture.sf)
    val ids1 = d1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1.size.toLong == d1.count())
  }

  test("span-cut rewrite removes a planted shared block from both carriers") {
    // Two docs share a verbatim 120-char block inside otherwise-unique
    // random text; a third doc is untouched. The block offsets are chosen
    // CONGRUENT mod the 10-char stride — the documented reach of strided
    // fingerprinting: a shared block only collides on the digest grid when
    // the two copies sample the same block-relative offsets (corpus-level
    // dups are prefix/full-doc copies, which always align).
    def filler(seed: Int, n: Int): String =
      new scala.util.Random(seed).alphanumeric.take(n).mkString
    val block = (0 until 120).map(i => ('a' + (i * 11 + 3) % 26).toChar).mkString
    val docs = Seq(
      (1L, filler(101, 73) + block + filler(102, 91)),
      (2L, filler(103, 133) + block + filler(104, 44)), // 133 ≡ 73 (mod 10)
      (3L, filler(105, 260))).toDF("doc_id", "text")

    val islands = graft.ops.Pipeline.dupIslands(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("s"), r.getAs[Int]("e")))
    // only the two carriers have islands, and each island covers the block
    assert(islands.map(_._1).toSet == Set(1L, 2L), islands.toSeq.toString)
    // the strided grid can overhang the block by <stride on the left and
    // <window on the right, but must cover the aligned inner windows
    for ((did, s, e) <- islands) {
      val off = if (did == 1L) 73 else 133
      assert(s <= off + 10 + 1 && e >= off + 120 - 39, s"island ($s,$e) off=$off")
    }

    val cleaned = graft.ops.Pipeline.spanCutRewrite(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean")).toMap
    assert(cleaned.keySet == Set(1L, 2L))
    // the planted block is gone from both rewritten docs, and re-running
    // detection on the cleaned corpus finds nothing left to cut
    assert(!cleaned(1L).contains(block.substring(10, 90)))
    assert(!cleaned(2L).contains(block.substring(10, 90)))
    val redetect = graft.ops.Pipeline.dupIslands(
      cleaned.toSeq.toDF("doc_id", "text")).count()
    assert(redetect == 0L, "cleaned docs still share a 40-char window")
  }

  test("mod-sampled fingerprints catch MISALIGNED copies the strided grid misses") {
    def filler(seed: Int, n: Int): String =
      new scala.util.Random(seed).alphanumeric.take(n).mkString
    // aperiodic random block: a periodic one (e.g. a 26-cycle) would let
    // grid windows at offsets differing by the period collide and un-blind
    // the strided detector
    val block = filler(999, 160)
    // offsets 73 and 137 are NOT congruent mod the 10-char stride: the two
    // copies sample different block-relative grid offsets, so the strided
    // detector is structurally blind to them...
    val docs = Seq(
      (1L, filler(201, 73) + block + filler(202, 90)),
      (2L, filler(203, 137) + block + filler(204, 50))).toDF("doc_id", "text")
    assert(graft.ops.Pipeline.dupIslands(docs).count() == 0L,
      "strided grid unexpectedly matched misaligned copies")
    // ...while the content-defined sample fingerprints the same block
    // windows at both offsets (the 160-char block holds 121 distinct
    // 40-grams, ~15 expected in the 1/8 sample)
    val win = graft.ops.Pipeline.sampledWindows(docs)
    val robust = graft.ops.Pipeline.islandUnion(
      graft.ops.Pipeline.joinDupWindows(win)
        .select("doc_id", "start")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("s"), r.getAs[Int]("e")))
    assert(robust.map(_._1).toSet == Set(1L, 2L), robust.toSeq.toString)
    // every island lies inside its doc's block (no false positives)
    for ((did, s, e) <- robust) {
      val off = if (did == 1L) 73 else 137
      assert(s >= off + 1 && e <= off + 160 + 1, s"island ($s,$e) off=$off")
    }
  }

  test("dynamic bucket table: read view ≡ LWW fold under random batching, " +
      "splits, and a mid-stream compaction") {
    // random upsert streams into a dynamic-bucket table with an absurdly
    // small growth target: every batch may trigger a split (the count is
    // data-driven), and the resolved view must STILL equal the in-memory
    // last-writer-wins fold — splits relabel whole generations, so key
    // co-location (and therefore the merge) must survive any number of them
    val dynOps: Gen[List[(Long, Long, Long)]] = {
      val op = for {
        key <- Gen.choose(0L, 40L)
        seq <- Gen.choose(0L, 1000L)
        v   <- Gen.choose(0L, 1000000L)
      } yield (key, seq, v)
      Gen.listOfN(60, op)
    }
    for (seed <- 1L to 3L) {
      val ops = dynOps.apply(Gen.Parameters.default, Seed(seed)).get
      val t = new StreamTable(Files.createTempDirectory("graft_dynp_").toString,
        spark, primaryKey = Some(Seq("id")), seqCol = Some("seq"),
        bucketKey = Some("id"), numBuckets = -1,
        dynBucketTargetRows = 8L, dynBucketInitial = 1)
      val batches = ops.grouped(20).toSeq
      batches.zipWithIndex.foreach { case (b, i) =>
        t.appendBatch(b.toDF("id", "seq", "v"), i.toLong)
        if (i == 1) t.compact(targetFileCount = 2)
      }
      val expect = ops.zipWithIndex.map { case ((k, sq, v), i) =>
        (k, sq, v, i / 20) }
        .groupBy(_._1)
        .map { case (k, g) => k -> g.maxBy(x => (x._2, x._4))._3 }
      val got = t.read.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == expect, s"seed=$seed count=${t.currentBuckets}")
      // structural invariants: a stamped power-of-two count, every live
      // file labeled inside it
      val snap = t.latestSnapshot.get
      val n = snap.bucketCount.get
      assert(n >= 1 && Integer.bitCount(n) == 1, s"count $n")
      assert(snap.files.forall(_.bucket.exists(b => b >= 0 && b < n)))
      // and the growth actually engaged (8-row target, ~41 keys)
      assert(n > 1, "the tiny target must have forced at least one split")
    }
  }
}

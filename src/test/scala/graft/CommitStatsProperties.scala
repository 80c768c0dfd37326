package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import graft.sink.{Bloom, TxTable}

/** Both halves of the merge-free commit:
  *  - the stats and filters the write tasks fold for a file are the
  *    ones a read-back would find: its footer's row count, null counts
  *    and min/max, and the bitsets a value, token or ngram pass over
  *    its rows builds;
  *  - the "already summed" tag is set only where the write proves its
  *    rows one per key, so a compact that skips the dates it covers
  *    still reads as the Summing merge of everything before it.
  * Generated rows carry NULLs, extreme values, several dates, and a
  * date whose rows are all filtered away before the write.
  */
object CommitStatsProperties extends Properties("graft") {
  // each case writes a table and reads every file back
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val dates = Seq("2024-06-01", "2024-06-02", "2024-06-03")
  private val empty = "2024-06-04" // every row of it is filtered out

  private val micros = Gen.oneOf(Gen.const(-62135596800000000L), // 0001-01-01
    Gen.const(253402300799999999L), Gen.const(0L), // 9999-12-31, epoch
    Gen.chooseNum(1700000000000000L, 1700000600000000L))
  private val text = Gen.oneOf("", " ", "a b", "tcp  udp", "日本語 テキスト",
    "é\u0000z", "longer free text with words", "abcd", "x")
  private val longs = Gen.oneOf(Gen.const(Long.MinValue),
    Gen.const(Long.MaxValue), Gen.chooseNum(-3L, 3L))

  private type Raw = (String, Option[Long], Option[String], Option[String],
    Option[String], Option[Long], Option[String], Long, Long, Long)

  private val genRow: Gen[Raw] = for {
    d <- Gen.frequency(6 -> Gen.oneOf(dates), 1 -> Gen.const(empty))
    t <- Gen.option(micros)
    dir <- Gen.option(Gen.oneOf("in", "out", "", "ö"))
    proto <- Gen.option(Gen.oneOf("tcp", "udp"))
    pod <- Gen.option(Gen.oneOf("pod-a", "pod-b", "日本"))
    ip <- Gen.option(longs)
    txt <- Gen.option(text)
    b <- Gen.chooseNum(0L, 1000L)
  } yield (d, t, dir, proto, pod, ip, txt, b, 1L, 1L)

  private def frame(spark: SparkSession, rows: Seq[Raw]): DataFrame = {
    import spark.implicits._
    rows.toDF("d", "t", "direction", "proto_name", "local_pod", "remote_ip",
      "text", "bytes", "packets", "n_obs")
      .filter(col("d") =!= empty)
      .select(to_date(col("d")).as("date"),
        timestamp_micros(col("t")).as("interval_start"), col("direction"),
        col("proto_name"), col("local_pod"), col("remote_ip"), col("text"),
        col("bytes"), col("packets"), col("n_obs"))
  }

  private def tmpTable(tag: String): String =
    Files.createTempDirectory(s"graft_commitprop_$tag").toString + "/t"

  /** One file's bitset as the read-back passes built it: `xxhash64`
    * of each value (NULL included), of each space-separated token, of
    * each distinct 4-gram. None where the pass yields no row. */
  private def readBackBits(spark: SparkSession, file: String)
      : Map[String, String] = {
    val df = spark.read.parquet(file)
    val value = Seq("local_pod", "remote_ip").map { c =>
      c -> df.agg(Bloom.agg(col(c))).head().getAs[Array[Byte]](0)
    }
    def text(key: String, items: org.apache.spark.sql.Column) = {
      val got = df.select(explode(items).as("i")).filter(length(col("i")) > 0)
        .agg(Bloom.agg(col("i"), Bloom.TokM), count(lit(1))).head()
      if (got.getLong(1) == 0) Nil else Seq(key -> got.getAs[Array[Byte]](0))
    }
    val n = Bloom.NgramN
    (value ++ text("text#tok", split(col("text"), " ")) ++
      text("text#ng", expr(s"CASE WHEN length(text) >= $n THEN " +
        s"array_distinct(transform(sequence(1, length(text) - ${n - 1}), " +
        s"i -> substring(text, i, $n))) ELSE array() END")))
      .map { case (k, bits) => k -> Bloom.encode(bits) }.toMap
  }

  property("folded file stats == footer stats and read-back bitsets") =
    forAllNoShrink(Gen.choose(1, 40).flatMap(Gen.listOfN(_, genRow))) { rows =>
      val spark = TestSpark.spark
      val table = tmpTable("fold")
      TxTable.createTable(spark, table, frame(spark, Nil).schema,
        props = Seq("graft.ngramBloomBy" -> "text"))
      TxTable.append(spark, frame(spark, rows), table)
      val metas = TxTable.liveStatsResolved(spark, table)
      val fs = new Path(table).getFileSystem(spark.sessionState.newHadoopConf())
      val wantDates = rows.map(_._1).filter(_ != empty).toSet
      (metas.values.map(_.date).toSet == wantDates) :| "dates" &&
        Prop.all(metas.toSeq.map { case (rel, m) =>
          val file = new Path(table, rel)
          val footer = TxTable.footerStats(fs, file)
          val counted = m.stats.filter { case (k, st) =>
            st.typ != 'b' && !k.endsWith(TxTable.NdvSuffix) &&
              k != TxTable.SummedKey }
          val bits = m.stats.collect { case (k, st) if st.typ == 'b' => k -> st.min }
          val want = readBackBits(spark, file.toString)
          val ndvs = Seq("local_pod", "remote_ip").map(c =>
            m.stats.get(s"$c${TxTable.NdvSuffix}").map(_.min.toLong) ==
              Some(Bloom.ndvOf(java.util.Base64.getDecoder.decode(want(c)))))
          ((counted == footer) :| s"$rel: $counted != $footer") &&
            ((bits == want) :| s"$rel: bitsets differ on " +
              (bits.keySet ++ want.keySet).filter(k => bits.get(k) != want.get(k))) &&
            (ndvs.forall(identity) :| s"$rel: #ndv")
        }: _*)
    }

  private sealed trait Step
  private case class Summed(rows: Seq[Raw]) extends Step // one row per key
  private case class Unsummed(rows: Seq[Raw]) extends Step // duplicates kept
  private case class Union(a: Seq[Raw], b: Seq[Raw]) extends Step
  private case class DeleteDv(proto: String) extends Step // deletion vector

  // eight keys per date, so appends repeat each other's keys
  private val genKeyRow: Gen[Raw] = for {
    d <- Gen.oneOf(dates.take(2))
    t <- Gen.option(Gen.const(60000000L))
    dir <- Gen.option(Gen.const("in"))
    proto <- Gen.oneOf("tcp", "udp")
    b <- Gen.chooseNum(1L, 9L)
  } yield (d, t, dir, Some(proto), Some("pod-a"), Some(1L), None, b, 1L, 1L)
  private val keyRows = Gen.choose(2, 6).flatMap(Gen.listOfN(_, genKeyRow))
  private val genStep: Gen[Step] = Gen.frequency(
    6 -> keyRows.map(Summed(_)),
    2 -> keyRows.map(Unsummed(_)),
    1 -> Gen.zip(keyRows, keyRows).map { case (a, b) => Union(a, b) },
    1 -> Gen.oneOf("tcp", "udp").map(DeleteDv(_)))

  property("compact after summed and unsummed appends == resum of the " +
    "table before it") =
    forAllNoShrink(Gen.choose(2, 5).flatMap(Gen.listOfN(_, genStep))) { steps =>
      val spark = TestSpark.spark
      val table = tmpTable("skip")
      var taggedRight = Prop.passed
      def append(df: DataFrame, unique: Boolean, step: Step): Unit = {
        val before = TxTable.liveStats(spark, table).keySet
        TxTable.append(spark, df, table)
        val added = TxTable.liveStats(spark, table) -- before
        taggedRight = taggedRight && (added.values.forall(m =>
          m.stats.contains(TxTable.SummedKey) == unique) :|
          s"$step: tag must read $unique")
      }
      steps.foreach {
        case s @ Summed(r) => append(TxTable.resum(frame(spark, r)), true, s)
        case s @ Unsummed(r) => append(frame(spark, r), false, s)
        case s @ Union(a, b) => append(TxTable.resum(frame(spark, a))
          .unionByName(TxTable.resum(frame(spark, b))), false, s)
        case DeleteDv(p) =>
          if (TxTable.currentVersion(spark, table) >= 0)
            TxTable.deleteMergeOnRead(spark, table, col("proto_name") === p)
      }
      if (TxTable.currentVersion(spark, table) < 0) Prop.passed
      else {
        val want = TxTable.resum(TxTable.read(spark, table)).collect()
        TxTable.compact(spark, table)
        val got = TxTable.read(spark, table).collect()
        taggedRight && ((got.sortBy(_.toString).toSeq ==
          want.sortBy(_.toString).toSeq) :|
          s"$steps: ${got.mkString(",")} != ${want.mkString(",")}")
      }
    }
}

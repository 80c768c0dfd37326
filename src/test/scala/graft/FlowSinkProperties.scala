package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.flow.{FlowConfig, FlowPipeline, RawFlow}
import graft.sink.TxTable
import graft.streaming.StreamingFlows

/** The flow sink's additive-delta contract: whatever micro-batches a
  * flow set arrives in, the flow table re-summed over the dimension key
  * equals the batch pipeline over the whole set — before and after the
  * Summing merge.
  */
object FlowSinkProperties extends Properties("graft") {
  import FlowSinkFixtures._

  // each case runs a streaming job of up to four micro-batches: a few
  // cases keep the property to seconds
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(3)

  private val genFlow: Gen[RawFlow] = for {
    id <- Gen.chooseNum(1L, 4L) // ids recur across dumps
    minute <- Gen.oneOf(0L, 1L, 2L, 24L * 60) // two minutes, two dates
    remote <- Gen.oneOf(PUB, PUB2, 167772166L, 134744072L) // +private, 8.8.8.8
    proto <- Gen.frequency(4 -> 6, 1 -> 17)
    toPod <- Gen.oneOf(true, false)
    bytes <- Gen.chooseNum(0L, 1000L)
  } yield {
    val f = flow(id, T0 + minute * 60000L, remote)
      .copy(proto = proto, orig_bytes = bytes)
    if (toPod) f.copy(orig_src_ip = remote, orig_dst_ip = POD,
      reply_src_ip = POD, reply_dst_ip = remote)
    else f
  }

  /** A flow set with at least one labelable flow, cut into 1-4
    * non-empty micro-batches.
    */
  private val genBatches: Gen[Seq[Seq[RawFlow]]] = for {
    rest <- Gen.choose(0, 7).flatMap(Gen.listOfN(_, genFlow))
    all = flow(0) +: rest
    k <- Gen.choose(1, math.min(4, all.size))
    cuts <- if (k == 1) Gen.const(Seq.empty[Int])
      else Gen.pick(k - 1, 1 until all.size)
  } yield {
    val bounds = 0 +: cuts.sorted.toSeq :+ all.size
    bounds.zip(bounds.tail).map { case (a, b) => all.slice(a, b) }
  }

  property("stream commits re-summed == FlowPipeline.run over the whole " +
    "set, before and after compact") = forAll(genBatches) { batches =>
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sinkprop").toString
    val table = s"$tmp/flows"
    val ms = MemoryStream[RawFlow]
    val q = StreamingFlows.start(ms.toDF(), _ => dims(spark), FlowConfig(),
      table, s"$tmp/outcomes", s"$tmp/ckpt")
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    val (p, n, px) = dims(spark)
    val want = FlowPipeline.run(batches.flatten.toDF(), p, n, px)
    val expected = rows(want, want)
    val before = rows(summed(spark, table), want)
    TxTable.compact(spark, table)
    val after = rows(TxTable.read(spark, table), want)
    Prop.all(
      (before == expected) :| s"before compact: $before != $expected",
      (after == expected) :| s"after compact: $after != $expected")
  }
}

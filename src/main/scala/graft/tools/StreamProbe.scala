package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Scratch main: where do the seconds of the streaming bench rows go?
  * Runs q_stream_join's pipeline once and prints every micro-batch's
  * StreamingQueryProgress (durationMs breakdown + state operator commit
  * times), then repeats under a twin session with fewer shuffle
  * partitions to separate state-store-count cost from data cost.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.get()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def runOnce(s: org.apache.spark.sql.SparkSession, label: String): Unit = {
      val schema = graft.GraftSession.table(s, d, "events").schema
      def side(et: String, pfx: String) =
        s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
          .transform(graft.GraftSession.normalizeTs(_))
          .filter(col("event_type") === et)
          .select(col("user_id").as(s"${pfx}_user"),
            col("event_id").as(s"${pfx}_id"), col("ts").as(s"${pfx}_ts"))
      val joined = graft.streaming.StreamJoinOps.viewClickIntervalJoin(
        side("view", "v"), side("click", "c"), watermark = "40 days")
      // progress events reach listeners asynchronously; the termination
      // event follows the run's last progress event on the same bus
      val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
      val terminated = new java.util.concurrent.CountDownLatch(1)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          progress.add(e.progress); ()
        }
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          terminated.countDown()
      }
      s.streams.addListener(listener)
      val t0 = System.nanoTime()
      val result = graft.streaming.StatePartitioning.drain(joined, "append")
      val total = (System.nanoTime() - t0) / 1e9
      terminated.await(60, java.util.concurrent.TimeUnit.SECONDS)
      s.streams.removeListener(listener)
      println(f"[$label] wall $total%.2f s, batches=${progress.size}")
      progress.forEach { p =>
        println(s"[$label] batch ${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs}")
        p.stateOperators.foreach { so =>
          println(s"[$label]   state: rows=${so.numRowsTotal} " +
            s"updated=${so.numRowsUpdated} commitMs=${so.commitTimeMs} " +
            s"mem=${so.memoryUsedBytes}")
        }
      }
      println(f"[$label] result rows=${result.count()}")
    }

    runOnce(spark, "p32-warm")
    runOnce(spark, "p32")
    val s8 = org.apache.spark.sql.graft.ConfBridge.twinSession(spark,
      Map("spark.sql.shuffle.partitions" -> "8"))
    runOnce(s8, "p8")
    val s4 = org.apache.spark.sql.graft.ConfBridge.twinSession(spark,
      Map("spark.sql.shuffle.partitions" -> "4"))
    runOnce(s4, "p4")
    val s4nd = org.apache.spark.sql.graft.ConfBridge.twinSession(spark,
      Map("spark.sql.shuffle.partitions" -> "4",
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))
    runOnce(s4nd, "p4-nodata")
    runOnce(s4nd, "p4-nodata2")
    spark.stop()
  }
}

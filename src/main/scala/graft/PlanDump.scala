package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Optimization-round measurement harness: dump `.explain("formatted")`
  * for named SparkEntry queries to `plans/<tag>/<query>_<suffix>.txt`,
  * optionally timing each query through the noop sink (min of N draws
  * after one warm-up — the same one-sided-noise aggregation the bench
  * uses). A timed query also gets `<query>_<suffix>_final.txt`: the
  * post-AQE executed plan of its last draw, the only place runtime
  * exchange and stage reuse and the coalesced partition counts show
  * (the formatted plan is captured before execution).
  *
  * Usage:
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...|all> [timedPasses]"
  *
  * Plans are captured with the exact session configuration Bench.scala
  * runs under (shuffle.partitions = cpus, AQE on, objectHashAggregate
  * fallback raised), so the committed plan files describe the measured
  * configuration, not a default-conf variant.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3)
    val passes = if (args.length > 4) args(4).toInt else 0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-plandump")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val qmap = SparkEntry.queries
    val selected: Seq[String] =
      if (names == "all") qmap.keys.toSeq.sorted
      else names.split(",").toSeq
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    // executed plans of the noop writes, in order; listener events arrive
    // on the listener-bus thread, so the main thread takes them from here
    val writePlans = new LinkedBlockingQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.isInstanceOf[V2TableWriteExec])
          writePlans.put(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    selected.foreach { name =>
      qmap.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            // capture the formatted plan (explain prints to stdout; use
            // the QueryExecution API so it can be redirected to the file)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
            if (passes > 0) {
              def once(): Double = {
                val t0 = System.nanoTime()
                fn(spark, sfDir).write.format("noop").mode("overwrite").save()
                (System.nanoTime() - t0) / 1e9
              }
              writePlans.clear()
              once() // warm-up draw (JIT, codegen cache, page cache)
              times(name) = Seq.fill(passes)(once()).min
              val drawPlans = Iterator.fill(passes + 1)(
                writePlans.poll(60, TimeUnit.SECONDS)).takeWhile(_ != null).toSeq
              if (drawPlans.size == passes + 1)
                Files.writeString(Paths.get(s"$outDir/${name}_${suffix}_final.txt"), drawPlans.last)
              else System.err.println(s"[plandump] $name: final plan not reported")
            }
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          }
      }
    }
    if (times.nonEmpty) {
      val js = times.map { case (k, v) => s""""$k":${"%.4f".format(v)}""" }
        .mkString("{", ",", "}")
      println(s"PLANDUMP_TIMES $js")
      Files.writeString(Paths.get(s"$outDir/times_$suffix.json"), js + "\n")
    }
    spark.stop()
  }
}

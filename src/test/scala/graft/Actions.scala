package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of engine code asks of Spark, for specs that pin the
  * fixed cost of an operation. */
object Actions {
  /** The action names a `QueryExecution` reports for reads of results. */
  val Reads = Set("count", "head", "collect", "collectAsList", "take", "first")

  /** The names of the SQL actions `body` runs (QueryExecutionListener's
    * `funcName`, successful and failed alike). */
  def sqlActions(spark: SparkSession)(body: => Any): Seq[String] = {
    val seen = ArrayBuffer.empty[String]
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.synchronized(seen += funcName)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.synchronized(seen += funcName)
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      body
      ListenerDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    seen.synchronized(seen.toList)
  }

  /** The SQL execution id of every Spark job `body` starts, in start
    * order (None: a job outside any SQL execution, such as a parquet
    * schema inference or an RDD action). */
  def jobExecutions(spark: SparkSession)(body: => Any): Seq[Option[Long]] = {
    val seen = ArrayBuffer.empty[Option[Long]]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      }
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      ListenerDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    seen.synchronized(seen.toList)
  }
}

package graft

import org.apache.spark.sql.SparkSession

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A session with the broadcast threshold at -1: the size gates of
    * `Bfs.hops` and `Dedup.connectedComponents` then take their
    * distributed paths whatever the graph's size.
    */
  lazy val broadcastOff: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }
}

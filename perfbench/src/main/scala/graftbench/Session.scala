package graftbench

import org.apache.spark.sql.SparkSession

/** The benchmark's SparkSession, configured as `graft.Bench` configures
  * its own: local[cores], one shuffle partition per core, the graft
  * extensions and the fixture session configs. Spark's scratch space
  * stays under `localDir` so a run writes only inside its checkout. */
object Session {
  def apply(cores: Int, localDir: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/spark-warehouse")
      .withExtensions(new graft.GraftExtensions())
    graft.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

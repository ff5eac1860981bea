package graft

import org.apache.spark.sql.SparkSession

/** The runtime confs the harness mains (`Bench`, `Verify`) take from
  * `SPARK_GRAFT_CONF=k=v;k2=v2`, an A/B aid: e.g.
  * `spark.sql.ansi.enabled=true` for the ANSI sweep, or
  * `spark.graft.barrierGateBytes=0` to force the parquet barrier path
  * in a scale run. Entries split on `;`, each at its first `=`; an entry
  * without `=` is ignored.
  */
object HarnessConf {

  def parse(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }

  def applyEnv(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(parse(_).foreach { case (k, v) => spark.conf.set(k, v) })
}

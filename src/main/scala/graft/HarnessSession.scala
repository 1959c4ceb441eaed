package graft
import org.apache.spark.sql.SparkSession

/** The one Spark session of the harness mains (Bench, Verify, PlanAudit,
  * ScaleProbe, tools.ProfileQuery): `local[cpus]` with one shuffle
  * partition per core, no UI and UTC session time. `cpus` comes from
  * SPARK_GRAFT_CPUS, else the caller's default. The CLI (`cli.Main`,
  * SPARK_MASTER) and the benchmark (`perfbench`) build their own sessions
  * on purpose.
  *
  * Bypass-merge threshold 1: never take the bypass-merge shuffle write
  * path. It opens one file per reduce partition per map task and merges
  * them with per-file mmap+NIO copies, which costs ~ms per file on a
  * local disk — jstack-profiled as the dominant task time of every small
  * exchange (q_bradley_terry round: 20 s task time for a 1 M-row cached
  * scan; battery A/B: −11 % on per-query minimums). The serialized sort
  * writer emits ONE file per map task. Scale-neutral: bypass only engages
  * when reduce partitions ≤ the threshold (default 200), which a
  * production shuffle exceeds anyway.
  *
  * SPARK_EXTRA_CONF="k=v;k=v" is applied last, so a run can override any
  * of the above (conf experiments). A segment without '=' fails with a
  * clear message instead of an opaque MatchError; empty segments
  * (trailing ';') are ignored.
  */
private[graft] object HarnessSession {
  def build(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    sys.env.get("SPARK_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      if (kv.trim.nonEmpty) kv.split("=", 2) match {
        case Array(k, v) => b.config(k, v): Unit
        case _ => sys.error(s"SPARK_EXTRA_CONF segment without '=': '$kv'")
      }
    })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

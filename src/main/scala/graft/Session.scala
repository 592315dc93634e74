package graft

import org.apache.spark.sql.SparkSession

/** The one local session setup shared by every graft main and the test
  * suite, so their settings cannot drift apart. Idempotent: a second
  * call returns the live session, re-applying the runtime confs (shuffle
  * width, time zone); the master and the codegen cache keep the first
  * call's values.
  *
  * Env: `SPARK_GRAFT_CPUS` sets the core count (default: every processor
  * the JVM sees); `SPARK_GRAFT_SHUFFLE` sets `spark.sql.shuffle.partitions`
  * (default: the core count). At a sweep SF 10–100× the daily corpus the
  * per-partition working set must keep fitting in the fixed executor
  * memory, so the shuffle width scales with the data the way a real
  * cluster submit would.
  */
object Session {

  /** Generated-class cache entries, not the 100-entry default (static
    * conf, JVM-wide): one pass over the 249-query registry generates
    * thousands of DISTINCT codegen classes, so at the default every
    * pass-2 execution regenerates and re-JITs its hot loops — measured
    * on d8's probe stage: pass 2 as cold as pass 1 (0.9 s/task vs the
    * 22 ms/task a cache-warm run reaches). Query-diversity-dependent,
    * not scale- or core-count-dependent: any long-lived session running
    * a diverse query mix wants this.
    */
  val CodegenCacheEntries = 4096

  private def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def envShuffle(cores: Int): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.trim.toInt).getOrElse(cores)

  /** `local[cores]` with `shuffle` partitions (default: the env, see
    * above), UTC session time zone, UI off, WARN logging, and Hadoop's
    * `file:` scheme bound to [[graft.io.LocalFs]] (`spark.hadoop.*`), so
    * local file writes set permissions and stat links without forking a
    * process. */
  def local(cores: Int = envCores, shuffle: Option[Int] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        shuffle.getOrElse(envShuffle(cores)).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    val s = graft.io.LocalFs.Bindings
      .foldLeft(b) { case (acc, (k, v)) => acc.config(s"spark.hadoop.$k", v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

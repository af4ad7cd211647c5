package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every graft main builds (Bench and its forked
  * sections, Verify, the CLIs, GoldenSweep, Explain, Profile), so the
  * plans a tool shows are the plans the gate and the bench run.
  *
  *  - `local[cpus]`, with `cpus` from SPARK_GRAFT_CPUS (else the
  *    caller's `defaultCpus`); SPARK_MASTER overrides the master;
  *  - shuffle partitions = cpus, AQE on;
  *  - graft.GraftExtensions (its optimizer rules change plan shapes);
  *  - UTC session time zone;
  *  - `nanosAsLong`: events.ts is parquet TIMESTAMP(NANOS), read as
  *    BIGINT nanos (Spark 4 rejects nanos timestamps otherwise); the
  *    queries do exact integer-microsecond arithmetic on it;
  *  - UI off, log level ERROR: the iterative algorithms release
  *    finished local checkpoints, which logs a WARN per round.
  *
  * `memoize = false` turns off the cc/tri and BPE memos
  * (`spark.graft.memoize`) so a timed rep measures operators, not a
  * cache hit; a Verify sweep keeps them on.
  */
object GraftSession {
  def apply(defaultCpus: Int, memoize: Boolean = true): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.memoize", memoize.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

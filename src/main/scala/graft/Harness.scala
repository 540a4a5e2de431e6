package graft

import org.apache.spark.sql.SparkSession

/** What the harness mains (Bench, Verify, Explain, GenGolden) share: one
  * session factory and one JSON string escaper.
  */
private[graft] object Harness {

  /** Cores of the harness session, from `SPARK_GRAFT_CPUS` (default 32). */
  val Cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The project root the harness reads and writes under: the golden
    * parquet the oracle SQL names, the work dir, and the Bench records.
    * Fixed, so the oracle SQL does not depend on the launch directory.
    */
  val Home = "/root/repo"

  /** Work dir of the harness session: layouts, indexes and scaled copies
    * are cached there across runs.
    */
  private val WorkDir = s"$Home/out"

  /** The harness session: `local[cores]` with one shuffle partition per
    * core, UTC session time, no UI, WARN logging, and [[WorkDir]] as the
    * graft work dir.
    */
  def session(cores: Int = Cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf, default 100: a full suite generates far more
      // codegen'd classes than that, and LRU eviction forces janino to
      // recompile every generated class on every run — the round-1
      // full-suite bench spent most of its time compiling, not executing
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config(Conf.WorkDirKey, WorkDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `s` as a JSON string literal: quote, backslash and ALL control chars
    * (< 0x20) escaped — a tab or CR in an oracle query or an exception
    * message would otherwise make a reader's json.load fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

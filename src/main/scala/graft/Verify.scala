package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Every query goes through [[QueryRunner]] (cap, cancel, session
  * rebuild, cache sweep, cheapest-first order). What is Verify's own,
  * so a run that dies mid-way still yields partial correctness rows,
  * not `{}`:
  *  - oracle_sql.json is written FIRST;
  *  - the cap is SPARK_GRAFT_VERIFY_CAP_SEC (default 120 s);
  *  - errors.tsv and times.tsv are rewritten after every query; a
  *    breached query still records its wall seconds, so it sorts last
  *    once times.tsv is copied to tools/verify_costs.tsv.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — extra names restrict the
    // dump to those queries (local iteration aid; the driver passes 2)
    val sfDir = args(0); val outDir = args(1)
    val wanted = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val capSec = sys.env.getOrElse("SPARK_GRAFT_VERIFY_CAP_SEC", "120").toInt

    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => wanted.isEmpty || wanted(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Per-query failures persisted next to the results: a query that
    // ERRORS writes no parquet, so without this it is indistinguishable
    // in the correctness report from one the run never reached (round 5
    // lost 51 rows to exactly that ambiguity when a testdata
    // regeneration changed a column's physical type).
    val errors = new StringBuilder
    // stale errors from a previous run in a reused outDir must not
    // misreport fixed queries; every other output file is rewritten
    // unconditionally, so clear this one too
    try Files.deleteIfExists(Paths.get(s"$outDir/errors.tsv"))
    catch { case _: Throwable => () }
    def recordError(name: String, msg: String): Unit = {
      errors.append(name).append('\t')
        .append(Option(msg).getOrElse("null").replace('\n', ' ')).append('\n')
      try Files.writeString(Paths.get(s"$outDir/errors.tsv"), errors.toString)
      catch { case _: Throwable => () }
    }

    val times = new StringBuilder
    val runner = new QueryRunner("verify", capSec, () => Sessions.build(cpus))
    QueryRunner.costOrdered(SparkEntry.queries.keys.toSeq
      .filter(n => wanted.isEmpty || wanted(n)))
      .foreach { name =>
        val r = runner.run(name)(s => SparkEntry.queries(name)(s, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        r.value.swap.foreach(e => recordError(name, e.getMessage))
        System.err.println(String.format(java.util.Locale.ROOT,
          "[verify] %s done in %.1f s", name, Double.box(r.seconds)))
        times.append(String.format(java.util.Locale.ROOT,
          "%s\t%.1f%n", name, Double.box(r.seconds)))
        try Files.writeString(Paths.get(s"$outDir/times.tsv"), times.toString)
        catch { case _: Throwable => () }
      }
    runner.spark.stop()
  }
}

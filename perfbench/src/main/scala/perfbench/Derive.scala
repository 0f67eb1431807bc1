package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Derives the graded_suite expectations: runs every eligible graded query
  * once on the table set, and writes into the output directory each result
  * as Parquet (for the DuckDB oracle compare), `oracle_sql.json` (the
  * engine's oracle SQL for those queries) and `digests.tsv` (row count and
  * [[Digest]] per query). `perfbench/tools/derive_expected.py` drives it
  * and keeps the digests only when the oracle passes every query. */
object Derive {
  def run(a: Map[String, String]): Unit = {
    val out = Paths.get(a("derive"))
    val work = Paths.get(a("work"))
    val data = Paths.get(a("data"))
    Files.createDirectories(out)
    val sf = work.resolve("sf")
    Files.createDirectories(sf)
    Files.list(data).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, sf.resolve(f.getFileName)))
    val spark = Box.session(a("cores").toInt, work)
    val names = GradedSuite.eligible
    val lines = names.flatMap { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sf.toString)
        val rows = df.collect()
        val (count, digest) = Digest.of(df.columns.toSeq, rows.toSeq)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.parquet(out.resolve(n).toString)
        Some(s"$n\t$count\t$digest")
      } catch {
        case e: Exception =>
          System.err.println(s"[derive] $n failed: $e")
          None
      }
    }
    Files.write(out.resolve("digests.tsv"), lines.asJava)
    val oracle = graft.SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.writeString(out.resolve("oracle_sql.json"),
      oracle.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
        .mkString("{", ",\n", "}"))
    spark.stop()
    graft.Fs.deleteRecursively(work)
  }
}

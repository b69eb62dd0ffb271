package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Records the expected output of every oracle-gated declared row: runs each
  * row on `sfDir`, keeps its fingerprint and cost, and writes its output as
  * parquet with `oracle_sql.json` beside it, the layout `tools/check_oracle.py`
  * reads. `perfbench/make_rows.sh` keeps only the rows the oracle passes.
  */
object Fingerprint {
  def run(sfDir: String, outDir: String): Unit = {
    val out = Paths.get(outDir).toAbsolutePath
    Files.createDirectories(out)
    val spark = Main.session(out.resolve("_work"))
    val modules = Rows.moduleOf
    val oracle = SparkEntry.oracleSql
    val names = SparkEntry.queries.keys.filter(oracle.contains).toSeq.sorted
    val lines = names.flatMap { n =>
      try {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir).persist()
        val fp = Fp.of(df)
        val t1 = (System.nanoTime() - t0) / 1e9
        df.coalesce(1).write.mode("overwrite").parquet(out.resolve(n).toString)
        df.unpersist()
        Main.settle(spark, Main.resident(spark))
        val t2s = System.nanoTime()
        val fp2 = Fp.of(SparkEntry.queries(n)(spark, sfDir))
        val t = math.min(t1, (System.nanoTime() - t2s) / 1e9)
        Main.settle(spark, Main.resident(spark))
        require(fp2 == fp, s"two runs disagree: $fp vs $fp2")
        System.err.println(f"[fingerprint] $n $t%.3f s $fp")
        Some(f"$n\t${modules(n)}\t$t%.3f\t$fp")
      } catch {
        case e: Throwable =>
          System.err.println(s"[fingerprint] $n failed: ${e.getMessage}")
          None
      }
    }
    Files.writeString(out.resolve("rows.tsv"), ("name\tmodule\tcost_s\tfingerprint" +: lines).mkString("\n") + "\n")
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(out.resolve("oracle_sql.json"),
      names.map(n => s"${q(n)}: ${q(oracle(n))}").mkString("{", ",", "}"))
    spark.stop()
    Main.deleteRec(out.resolve("_work"))
  }
}

package graft
import java.nio.file.{Files, Paths}

import graft.util.Blocks

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg (dev loop only; the driver passes 2): restrict
    // the dump to a comma-separated subset of query names.
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, c) => (a, b, Some(c.split(",").toSet))
    }
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    // Oracle-validity precondition, checked against the ACTUAL sfDir:
    // several oracles mirror byte-level arithmetic (ascii(), FNV-1a
    // simhash, winnow k-gram hashes, frame/BMP byte stats) that agree
    // between Spark and DuckDB only when text is pure ASCII (char ==
    // octet). The spec asserts this for sf0.001/0.01 — this guard covers
    // whatever scale the driver actually runs, failing loudly instead of
    // surfacing as a sub-1% hash mismatch.
    locally {
      import org.apache.spark.sql.functions._
      val nonAscii = graft.sources.Tables.documents(spark, sfDir)
        .filter(col("text").isNotNull &&
          length(col("text")) =!= octet_length(col("text"))).count()
      require(nonAscii == 0,
        s"documents.text in $sfDir has $nonAscii non-ASCII rows - " +
          "byte-level oracles (q35/q37/q44/q49/q53/q58/q76/q122/q141/" +
          "q168/q170/q177/q181) would be invalid")
    }
    // Transcendental-grid precondition (ADVICE r4): q67/q68 round
    // ln-derived values onto a 1e-6 grid; Spark's Math.log and DuckDB's
    // ln can disagree in the last ulp, which flips a grid cell only if
    // a value sits within ulps of the floor boundary. Assert none does
    // at THIS scale factor — a boundary hit fails here with the exact
    // offending term instead of surfacing as a one-row hash mismatch.
    locally {
      val haz = graft.operators.TextOps.lnBoundaryHazards(spark, sfDir)
        .limit(5).collect()
      require(haz.isEmpty,
        s"ln-grid boundary hazard in $sfDir - cross-engine flip possible: " +
          haz.map(_.toString).mkString("; "))
      // Telemetry beyond the binary guard (VERDICT r5 #8): per-site
      // minimum flip-point distance and headroom (multiples of the
      // 8-ulp margin) — drift toward the hazard is visible across
      // rounds before any SF actually trips the require above.
      val margins = graft.operators.TextOps.lnBoundaryMargins(spark, sfDir)
        .collect().map { r =>
          s"""{"site":"${r.getString(0)}","n_terms":${r.getLong(1)},""" +
            s""""min_dist":${r.getDouble(2)},"min_headroom":${r.getDouble(3)}}"""
        }.mkString("[", ",", "]")
      Files.writeString(Paths.get(s"$outDir/ln_boundary_margin.json"), margins)
      System.err.println(s"[verify] ln boundary margins: $margins")
    }
    val keep = (n: String) => only.forall(_.contains(n))
    // each query's blocks are freed before the next query runs
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name)) Blocks.scope(spark) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
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
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

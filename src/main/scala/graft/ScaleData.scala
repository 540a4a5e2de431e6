package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Replicated scale-up of an sf dir for scaling-curve measurement:
  * `factor`× the rows of the heavy-family tables, written once per
  * (source content, factor) under the work dir and reused.
  *
  * Copies are content-perturbed so the scaled corpus keeps the
  * original's *similarity structure* instead of planting `factor`-sized
  * duplicate clusters (which would make every dedup output quadratic in
  * copies and measure a different workload):
  *  - documents: per-copy letter substitution (rotated a..j alphabet) —
  *    shingle/gram sets of different copies are disjoint-ish, so
  *    near-dup pair counts scale ~linearly;
  *  - embeddings: per-copy cyclic dimension rotation — norms exact,
  *    cross-copy cosines behave like unrelated vectors;
  *  - TPC-H facts (lineitem/orders/customer/supplier): join keys offset
  *    per copy, so join selectivity and group counts scale linearly;
  *    nation/region stay as the shared dimensions.
  *
  * Perturbations are periodic: letter rotations repeat every 26 copies
  * and dimension rotations every `dim` copies, so factors beyond that
  * reintroduce exact duplicates across copies (groups of
  * ~factor/period). Dedup operators then legitimately report those
  * clusters — representative of real web-scale duplication — but pair
  * counts gain a (bounded, ~factor/period per row) extra term; the
  * fully-decorrelated regime is factor ≤ 26 for documents, ≤ dim for
  * embeddings.
  */
object ScaleData {

  private val Stride = 10000000L

  /** Bump when the perturbation scheme changes, so cached scale dirs
    * from older generators are never reused.
    */
  // v4: documents replication preserves ALL columns (source/lang/
  // n_chars pass through) — the v3 (doc_id, text)-only projection made
  // every operator that reads another documents column (sample_pack
  // partitions by `source`) throw at 10×/100×, recorded as a silent -1
  private val GenVersion = 4

  val AllTables: Seq[String] = Seq("documents", "embeddings", "lineitem",
    "orders", "customer", "supplier", "events", "nation", "region", "part")

  /** Ensure the `factor`× dir holds (at least) `tables`, generating only
    * the missing ones — per-table `_SUCCESS` markers make the cache
    * incremental, so a 100× run that needs only documents + embeddings
    * + events never pays for a 60M-row lineitem write it won't read.
    * The copies live under `base`, by default the session's work dir
    * ([[Conf.workDir]]).
    */
  def ensure(spark: SparkSession, sfDir: String, factor: Int = 10,
             base: String = "",
             tables: Seq[String] = AllTables): String = {
    val fp = graft.tsdb.Ingest.contentFingerprint(sfDir)
    val dir = s"${Conf.resolveWorkDir(spark, base)}/scale${factor}_v${GenVersion}_${Integer.toHexString(sfDir.hashCode)}_$fp"
    tables.foreach { t =>
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, s"$t.parquet", "_SUCCESS")))
        writeTable(spark, sfDir, dir, factor, t)
    }
    dir
  }

  private def replicate(df: DataFrame, factor: Int)
                       (copy: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(i => copy(df, i)).reduce(_ union _)

  private def writeTable(spark: SparkSession, sfDir: String, dir: String,
                         factor: Int, table: String): Unit = {
    def src(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")
    def out(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$table.parquet")

    // substitute (almost) the whole alphabet per copy: a narrow map
    // would leave common words intact across copies, making every copy
    // a near-duplicate of the original — shingle overlap must die for
    // dedup candidate volume to scale linearly with copies
    val letters = "abcdefghijklmnopqrstuvwxyz"
    table match {
      case "documents" => out(replicate(src("documents"), factor) { (d, i) =>
        val to = letters.drop(i * 7 % 26) + letters.take(i * 7 % 26)
        // every non-perturbed column passes through unchanged: the
        // scaled table must keep the base table's full schema (letter
        // substitution preserves text length, so n_chars stays true)
        val rest = d.columns.filterNot(Set("doc_id", "text")).map(col).toSeq
        d.select((col("doc_id") + i * Stride).as("doc_id") +:
          translate(col("text"), letters, to).as("text") +: rest: _*)
      })

      case "embeddings" => out(replicate(src("embeddings"), factor) { (e, i) =>
        // rotate modulo the dimension: copy indices past `dim` wrap (see
        // the periodicity note above) instead of producing negative
        // slice lengths
        val rot =
          if (i == 0) col("embedding")
          else expr(s"concat(slice(embedding, ($i % size(embedding)) + 1, " +
            s"size(embedding) - ($i % size(embedding))), " +
            s"slice(embedding, 1, $i % size(embedding)))")
        e.select((col("vec_id") + i * Stride).as("vec_id"), col("label"),
          rot.as("embedding"))
      })

      case "lineitem" => out(replicate(src("lineitem"), factor) { (l, i) =>
        l.withColumn("l_orderkey", col("l_orderkey") + i * Stride)
          .withColumn("l_suppkey", col("l_suppkey") + i * Stride)
      })
      case "orders" => out(replicate(src("orders"), factor) { (o, i) =>
        o.withColumn("o_orderkey", col("o_orderkey") + i * Stride)
          .withColumn("o_custkey", col("o_custkey") + i * Stride)
      })
      case "customer" => out(replicate(src("customer"), factor) { (c, i) =>
        c.withColumn("c_custkey", col("c_custkey") + i * Stride)
      })
      case "supplier" => out(replicate(src("supplier"), factor) { (s, i) =>
        s.withColumn("s_suppkey", col("s_suppkey") + i * Stride)
      })
      // events: distinct users per copy (series count scales), same time
      // range — the TSDB scan/agg/window paths see factor× points
      case "events" => out(replicate(src("events"), factor) { (e, i) =>
        e.withColumn("user_id", col("user_id") + i * Stride)
          .withColumn("event_id", col("event_id") + i * Stride)
      })

      // part is a shared dimension like nation/region: lineitem copies
      // keep their l_partkey, so the part table passes through unscaled
      // (its absence made every part-reading 10x/100x leg record -1 —
      // q14_promo's silent-fail in the r10 interim record)
      case "part" => out(src("part"))
      case "nation" => out(src("nation"))
      case "region" => out(src("region"))
      case other => throw new IllegalArgumentException(s"unknown table $other")
    }
  }
}

package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic ~N× scale-up of the `documents` / `embeddings` fixtures,
  * for the scale-smoke point Bench measures beyond sf0.1 (no larger
  * driver testdata exists). The replication preserves the statistical
  * structure the dedup/ANN operators key on instead of inflating it:
  *
  *  - documents: replica `r` appends a `~r` tag to EVERY token (replica 0
  *    keeps the original text), so token/shingle sets within one replica
  *    relate exactly as in the base corpus — near-dup pairs, Jaccard
  *    values, and group structure replicate ×N — while shingles never
  *    collide ACROSS replicas (a naive N-fold copy would instead make
  *    every document an exact N-way duplicate and blow the pair count up
  *    quadratically, measuring a different workload, not a bigger one).
  *  - embeddings: replica `r` circularly shifts the vector dimensions by
  *    `r`. Cosine similarity is permutation-invariant, so within-replica
  *    near-dup/ANN structure is preserved exactly; cross-replica cosines
  *    decorrelate.
  *
  * Ids offset by `r * 10_000_000` per replica. Output is written once and
  * fingerprinted with an `_OK` marker; later calls reuse it.
  */
object GenScaleCorpus {

  /** Generate (if absent) `replicas`× documents+embeddings under `outDir`.
    * Returns true when the corpus was (re)generated, false on reuse.
    */
  def ensure(
      spark: SparkSession,
      baseSfDir: String,
      outDir: String,
      replicas: Int): Boolean = {
    val marker = Paths.get(outDir, s"_OK_x$replicas")
    val markerContent = s"base=$baseSfDir replicas=$replicas\n"
    // reuse only if BOTH the replica count and the base sfDir match —
    // the marker name alone would let a bench at a different SF silently
    // reuse another SF's corpus
    if (Files.exists(marker) && Files.readString(marker) == markerContent)
      return false
    // regenerating at a different replica count: drop the old count's
    // marker, or a later call at THAT count would reuse this corpus
    if (Files.isDirectory(Paths.get(outDir))) {
      val stale = Files.list(Paths.get(outDir)).filter(p =>
        p.getFileName.toString.startsWith("_OK_x"))
      try stale.forEach(p => Files.deleteIfExists(p))
      finally stale.close()
    }

    val reps = spark.range(replicas).select(col("id").as("rep"))
    val idOff = col("rep") * lit(10000000L)

    val docs = spark.read.parquet(s"$baseSfDir/documents.parquet")
    val text = when(col("rep") === 0, col("text"))
      .otherwise(array_join(
        transform(split(trim(col("text")), "\\s+"),
          t => concat(t, lit("~"), col("rep").cast("string"))), " "))
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + idOff).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$baseSfDir/embeddings.parquet")
    val dim = size(col("embedding"))
    emb.crossJoin(reps)
      .select(
        (col("vec_id") + idOff).as("vec_id"),
        transform(sequence(lit(0), dim - 1), i =>
          element_at(col("embedding"),
            (pmod(i + col("rep").cast("int"), dim) + 1).cast("int")))
          .as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    Files.createDirectories(marker.getParent)
    Files.writeString(marker, markerContent)
    true
  }
}

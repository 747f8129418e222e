package graft.tools

import org.apache.spark.sql.functions._
import graft.core.Sessions
import graft.operators.PqOps

/** Dumps the OPQ rotation for a corpus as the flat row-major
  * 1e7-quantized long CSV the `s_ann_opq` / `s_recall_opq` DuckDB
  * oracles embed as integer literals (the PcaOps precedent: the
  * rotation derivation is driver-side float math the oracle takes as
  * a pinned constant rather than replaying — [[PqOps.opqTrainRotation]]
  * is deterministic, so re-deriving at the same sf reproduces these
  * exact longs). Run:
  * sbt "runMain graft.tools.OpqBasisDump [sfDir] [outFile]" */
object OpqBasisDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) Some(args(1)) else None
    val spark = Sessions.local(8, "graft-opq-basis-dump")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val flat = PqOps.opqBasisFlat(e, "id", "embedding",
      dim = 64, m = 8, k = 32, opqIters = 3)
    val csv = flat.mkString(",")
    println(s"entries=${flat.length} sum=${flat.sum} min=${flat.min} max=${flat.max}")
    out match {
      case Some(f) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(f),
          csv.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"wrote $f")
      case None => println(csv)
    }
    spark.stop()
  }
}

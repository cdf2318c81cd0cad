package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared deterministic sample collection for the index trainers
  * ([[IvfIndex.fit]] / [[PqIndex.fit]]): ONE TakeOrdered cluster job,
  * bounded driver memory, null vectors dropped (nothing to train on),
  * per-element nulls read as 0 (the same convention the distributed
  * distance expressions use).
  *
  * The sample is the `cap` smallest ids, in id order: stable, cheap,
  * and deterministic — but BIASED when ids correlate with content (a
  * trainer refit on a stream with monotone ids would train on the
  * oldest rows forever).
  */
private[operators] object Sampling {

  /** Hard ceiling on any trainer sample: the ONE driver-side collect in
    * the engine whose size is a parameter rather than a constant is
    * bounded here. Sample-based codebook/centroid training is the
    * at-scale design — the full corpus never reaches the driver, at any
    * corpus size, because `cap` can never exceed this.
    */
  val MaxCap = 65536

  def collectSample(corpus: DataFrame, idCol: String, vecCol: String,
                    cap: Int): Array[Array[Double]] = {
    require(cap > 0 && cap <= MaxCap,
      s"trainer sample cap must be in (0, $MaxCap], got $cap")
    val base = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        transform(col(vecCol),
          x => coalesce(x.cast("double"), lit(0.0))).as("v"))
    // The repartition(1) is load-bearing: a bare orderBy.limit(cap)
    // .collect() plans as TakeOrderedAndProject in DRIVER-COLLECT mode,
    // which ships every input partition's local top-cap to the driver
    // at once — cap × numPartitions rows, and numPartitions rides the
    // corpus (measured: 33 scan splits × 65,536 rows = 1,049 MiB >
    // spark.driver.maxResultSize at the 1000-copy scale corpus — the
    // sf100 sweep's catch). With a non-collect parent, the same node
    // runs its merge ON AN EXECUTOR: per-partition top-cap, a shuffle
    // of only the pruned candidates into one spillable task, and the
    // driver receives exactly cap rows at any corpus size or split
    // count. Same operator, same rows, byte-identical sample — only
    // the merge site moves off the driver.
    base.orderBy(col("id")).limit(cap).repartition(1)
      .collect().map(_.getSeq[Double](1).toArray)
  }
}

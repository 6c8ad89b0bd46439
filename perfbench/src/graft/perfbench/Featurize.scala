package graft.perfbench

import org.apache.spark.sql.DataFrame
import graft.pipeline.Dedupe
import graft.sim.{Distances, TfIdf}

/** The feature frame `Dedupe.run` builds in its `features` stage: the
  * configured similarity features joined with the TF-IDF cosine against
  * cached corpus weights. It lives in package graft because the weight
  * relations are package-visible. */
object Featurize {
  /** Column names of the frame, in the order the classifier reads them. */
  def columns(cfg: Dedupe.Config): Seq[String] =
    cfg.features.map(_.colName) :+ "tfidf_cos"

  /** `Dedupe.run`'s featurize function over `records`; the corpus weights
    * are cached on the first action. */
  def featurizer(records: DataFrame, cfg: Dedupe.Config,
                 nRecords: Long): DataFrame => DataFrame = {
    val (w, norms) = TfIdf.weights(records, "conv_id", "full_text",
      TfIdf.DefaultMaxDf, Some(nRecords))
    val (wc, nc) = (w.cache(), norms.cache())
    pairs => Distances.featuresFor(pairs, records, cfg.features)
      .join(TfIdf.cosineWith(pairs.select("id_l", "id_r"), wc, nc),
        Seq("id_l", "id_r"))
  }

  def dedupeFeatures(pairs: DataFrame, records: DataFrame,
                     cfg: Dedupe.Config, nRecords: Long): DataFrame =
    featurizer(records, cfg, nRecords)(pairs)
}

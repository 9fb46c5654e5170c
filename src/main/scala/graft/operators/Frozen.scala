package graft.operators

import org.apache.spark.sql.DataFrame

/** The frozen-artifact handoff to the DuckDB oracle, in one place.
  *
  * An approximate or engine-specific operator (a hash, a quantizer
  * assignment, a sketch estimate, a decode) cannot be recomputed in SQL.
  * Its registered entry therefore writes that one piece to parquet at
  * [[path]], serves from the loaded copy ([[apply]]), and the entry's
  * oracle SQL reads the same path, recomputing everything downstream
  * independently. Writer and oracle both build the path here, so they can
  * never point at different locations; EntryContractSpec rebuilds every
  * path the oracle SQL names through [[path]], and its source walk rejects
  * a `/tmp/graft-` literal or a private freeze anywhere else in the
  * program. */
object Frozen {

  /** Declared artifact families. A family ending in `-` is a prefix that
    * takes a per-entry suffix (`ann-lsh`, `ppl-cuts-curate`); the others
    * name one artifact each. `curation-state` is the one no oracle reads:
    * curation_state_build's serving bundle, one directory per frame. */
  private val Families = Seq("ann-", "sketch-", "dedup-", "text-", "media-",
    "ppl-cuts-", "bpe-segs", "overlap-hashes", "overlap-purge-hashes", "curation-state")

  private def declared(name: String): Boolean =
    Families.exists(f =>
      if (f.endsWith("-")) name.startsWith(f) && name.length > f.length else name == f)

  /** `/tmp/graft-<name>/<basename(d)>`: the artifact `name` of data
    * directory `d`. `name` must belong to a declared family. */
  def path(name: String, d: String): String = {
    require(declared(name), s"frozen artifact '$name' belongs to no declared family")
    s"/tmp/graft-$name/" + new java.io.File(d).getName
  }

  /** Write `df` to `path` as parquet and read it back: everything
    * downstream sees exactly the values the oracle reads. The read takes
    * the writer's schema, so it runs no schema-inference job. */
  def apply(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }
}

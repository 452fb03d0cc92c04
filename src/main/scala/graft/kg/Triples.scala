package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Triple materialization (SURVEY §2 G7/A15): linked+canonicalized mentions →
  * (subj, pred, obj, doc_id) rows.
  *
  * Predicates (north rule): mentions, sameAs, inDoc, label, category.
  * subj is the canonical entity URI `ent:<canonical_id>`.
  */
object Triples {

  private def uri(c: org.apache.spark.sql.Column) = concat(lit("ent:"), c.cast("string"))

  /** linked: output of Linker.link joined with canonical ids (columns
    * entity_id, canonical_id, canonical, dict_category, surface, doc_id, ...).
    *
    * `mentions` rows are a multiset, one per linked mention. The per-doc
    * facts (inDoc, label, category and, for an entity that is not its own
    * canonical id, sameAs) come from one `explode` of (pred, obj) pairs per
    * mention and one `distinct`: the predicates differ, so that is the
    * union of one `distinct` per predicate.
    */
  def fromLinkedMentions(linked: DataFrame): DataFrame = {
    val base = linked.select(
      uri(col("canonical_id")).as("subj"),
      col("entity_id"), col("canonical"), col("dict_category"),
      col("surface"), col("doc_id"))

    def fact(pred: String, obj: Column) = struct(lit(pred).as("pred"), obj.as("obj"))
    val mentions = base.select(col("subj"), lit("mentions").as("pred"), col("surface").as("obj"), col("doc_id"))
    val facts = base
      .select(col("subj"), col("doc_id"), explode(array(
        fact("inDoc", col("doc_id")),
        fact("label", col("canonical")),
        fact("category", col("dict_category")),
        when(uri(col("entity_id")) =!= col("subj"), fact("sameAs", uri(col("entity_id")))))).as("fact"))
      .filter(col("fact").isNotNull)
      .select(col("subj"), col("fact.pred").as("pred"), col("fact.obj").as("obj"), col("doc_id"))
      .distinct()

    mentions.unionByName(facts)
  }
}

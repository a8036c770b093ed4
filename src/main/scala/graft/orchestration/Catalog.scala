package graft.orchestration

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{PipelineDef, PipelineTrigger}

/** Pipeline catalog: the reference's `pipeline_defs` collection and its
  * CRUD surface (`/root/reference/src/kalytical/core/data_provider.py`
  * D1–D8) over immutable Datasets.
  *
  * Writes are functional (return a new Catalog) — persisting is an
  * overwrite of a tiny metadata relation, mirroring the reference's
  * upsert/replace pattern without the Mongo mutex. Guards implement the
  * INTENDED semantics (SURVEY §8.7–8.9): trigger references must exist
  * (D5), deletes refuse when downstream pipelines depend on the target
  * (D6) unless `safeDelete=false`.
  */
final case class Catalog(defs: Dataset[PipelineDef]) {
  private def spark: SparkSession = defs.sparkSession

  /** D2 — prefix + tag filtered header listing. The prefix is validated
    * against the uuid alphabet first (reference `data_provider.py:41-44`,
    * fixed per §8.6 to accept '-'). */
  def list(prefix: Option[String] = None, tagTeam: Option[String] = None,
           tagEnv: Option[String] = None): DataFrame = {
    prefix.foreach { p =>
      require(p.matches("^[a-z0-9-]+$"), s"invalid pipeline prefix: $p")
    }
    val base = defs.drop("pipeline_body")
    val p1 = prefix.map(p => base.where(col("pipeline_uuid").startsWith(p))).getOrElse(base)
    val p2 = tagTeam.map(t => p1.where(col("tags_team") === t)).getOrElse(p1)
    tagEnv.map(t => p2.where(col("tags_env") === t)).getOrElse(p2)
  }

  /** D3 — point lookup, full definition. */
  def describe(uuid: String): Dataset[PipelineDef] =
    defs.where(col("pipeline_uuid") === uuid)

  /** D4 — header-only point lookup. */
  def head(uuid: String): DataFrame = describe(uuid).drop("pipeline_body")

  /** D8 — body-only point lookup. */
  def body(uuid: String): DataFrame =
    defs.where(col("pipeline_uuid") === uuid).select("pipeline_uuid", "pipeline_body")

  /** D1 — all defs triggering on `uuid` (reverse-edge lookup). */
  def downstream(uuid: String, edges: Dataset[PipelineTrigger]): DataFrame =
    defs.join(
      edges.where(col("trigger_uuid") === uuid).select("pipeline_uuid").distinct(),
      Seq("pipeline_uuid"), "left_semi").drop("pipeline_body")

  /** D5 — upsert with referential trigger validation: every declared
    * trigger must name an existing def (left-anti must be empty). */
  def upsert(d: PipelineDef, triggers: Seq[PipelineTrigger]): Catalog = {
    require(d.pipeline_uuid.matches("^[a-z0-9-]+$"), s"invalid pipeline_uuid: ${d.pipeline_uuid}")
    val declared = spark.createDataset(triggers.map(_.trigger_uuid))(Encoders.STRING)
      .toDF("trigger_uuid")
    val missing = declared
      .join(defs.select(col("pipeline_uuid").as("trigger_uuid")), Seq("trigger_uuid"), "left_anti")
      .collect().map(_.getString(0))
    require(missing.isEmpty, s"triggers reference unknown pipelines: ${missing.mkString(", ")}")
    val replaced = defs.where(col("pipeline_uuid") =!= d.pipeline_uuid)
      .unionByName(spark.createDataset(Seq(d))(Encoders.product[PipelineDef]))
    Catalog(replaced)
  }

  /** D6 — delete with orphan guard: refuses when other pipelines trigger
    * on the target (intended semantics, §8.8). */
  def delete(uuid: String, edges: Dataset[PipelineTrigger], safeDelete: Boolean = true): Catalog = {
    if (safeDelete) {
      val orphanCount = edges.where(col("trigger_uuid") === uuid).limit(1).count()
      require(orphanCount == 0, s"cannot delete $uuid: downstream pipelines depend on it")
    }
    Catalog(defs.where(col("pipeline_uuid") =!= uuid))
  }

  /** D7 — bulk delete of a D2 result set via left-anti rewrite. */
  def flush(prefix: String): Catalog = {
    val doomed = list(Some(prefix)).select("pipeline_uuid")
    Catalog(defs.join(doomed, Seq("pipeline_uuid"), "left_anti")
      .as[PipelineDef](Encoders.product[PipelineDef]))
  }
}

package graft.model

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.GraphState

/** Medical ontology layer (reference: models/src/medical/mod.rs:1-49 —
  * 45+ typed entities, each with a ToVertex mapping every field to STRING
  * properties; representative subset here, same projection contract).
  *
  * Typed `Dataset[Patient]` etc. give compile-time field checks; the
  * `toVertices` projections stringify every field exactly like the
  * reference's medical ToVertex layer (lib/src/graph_engine/medical.rs:
  * 26-37), so the graph side stays schemaless while the Dataset side is
  * typed.
  */
object Medical {

  final case class Patient(id: String, first_name: String,
      last_name: String, date_of_birth: String, gender: String)

  final case class Diagnosis(id: String, code: String,
      description: String, diagnosed_at: String)

  private def toVertexDf(df: DataFrame, label: String): DataFrame = {
    val propCols = df.columns.filterNot(_ == "id").flatMap(c =>
      Seq(lit(c), col(c).cast("string")))
    df.select(col("id").cast("string").as("id"), lit(label).as("label"),
      map(propCols.toSeq: _*).as("properties"))
  }

  def patientVertices(ds: Dataset[Patient]): DataFrame =
    toVertexDf(ds.toDF(), "Patient")
  def diagnosisVertices(ds: Dataset[Diagnosis]): DataFrame =
    toVertexDf(ds.toDF(), "Diagnosis")

  /** insert_patient_with_diagnosis (medical.rs:55-73):
    * Patient —HAS_DIAGNOSIS→ Diagnosis, one batched append. */
  def insertPatientWithDiagnosis(g: GraphState, patients: Dataset[Patient],
      diagnoses: Dataset[Diagnosis], links: DataFrame /* patient_id, diagnosis_id */)
      (implicit spark: SparkSession): GraphState = {
    val verts = patientVertices(patients)
      .unionByName(diagnosisVertices(diagnoses))
    val edges = links.select(
      concat(lit("e:hd:"), col("patient_id"), lit(":"),
        col("diagnosis_id")).as("id"),
      col("patient_id").cast("string").as("src"),
      col("diagnosis_id").cast("string").as("dst"),
      lit("HAS_DIAGNOSIS").as("edge_type"),
      lit("").as("label"),
      map().cast("map<string,string>").as("properties"))
    g.upsertVertices(verts).insertEdgesChecked(edges)
  }
}

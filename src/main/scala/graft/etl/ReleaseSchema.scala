package graft.etl

import org.apache.spark.sql.types._

/** The schema of the Discogs `releases` XML → Parquet job.
  *
  * Mirrors the reference's hard-coded Arrow schema
  * (`/root/reference/src/main.rs:179-217`) — see SURVEY.md §1.2 for
  * the full type mapping. It is the only schema: [[ReleaseParser]]
  * fills rows of [[outputSchema]] directly, and the Parquet writer
  * writes its non-null fields as `REQUIRED` columns.
  */
object ReleaseSchema {

  /** Output artist struct (`main.rs:185-190`): id/name required,
    * anv/join nullable (null iff the element was empty,
    * `main.rs:718-741`). `role`/`tracks` are intentionally absent: the
    * reference reads and discards them (`main.rs:742-749`), and so
    * does [[ReleaseParser]] (SURVEY S13).
    */
  val artistOut: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("anv", StringType, nullable = true),
    StructField("join", StringType, nullable = true)))

  /** Output label struct: attribute-only empty elements
    * (`main.rs:626-668`) — note the `catno` → `cat_no` rename
    * (`main.rs:649-653` vs `main.rs:181`). Unknown label attributes are
    * ignored, as the reference does (`main.rs:662`).
    */
  val labelOut: StructType = StructType(Seq(
    StructField("id", StringType, nullable = true),
    StructField("cat_no", StringType, nullable = true),
    StructField("name", StringType, nullable = true)))

  /** Final output schema (`main.rs:193-217`). `master_id` and
    * `is_main_release` come from one element,
    * `<master_id is_main_release="…">N</master_id>`
    * (`main.rs:815-851`), and are null when it is absent
    * (`main.rs:557-560`).
    */
  val outputSchema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("title", StringType, nullable = false),
    StructField("artists", ArrayType(artistOut), nullable = false),
    StructField("genres", ArrayType(StringType), nullable = false),
    StructField("styles", ArrayType(StringType), nullable = false),
    StructField("labels", ArrayType(labelOut), nullable = false),
    StructField("is_main_release", BooleanType, nullable = true),
    StructField("master_id", IntegerType, nullable = true)))

  /** The status dictionary the reference pre-seeds
    * (`main.rs:228-238`). Parquet dictionary-encodes automatically;
    * this is kept for validation.
    */
  val knownStatuses: Seq[String] = Seq("Accepted", "Draft", "Deleted")
}

package graft.etl

import org.apache.spark.sql.types._

/** Schemas for the Discogs `releases` XML → Parquet job.
  *
  * Mirrors the reference's hard-coded Arrow schema
  * (`/root/reference/src/main.rs:179-217`) — see SURVEY.md §1.2 for
  * the full type mapping. Two schemas exist because the parsed rows
  * keep the XML's shape — attributes as `_`-prefixed fields, repeated
  * child elements wrapped in their container element — and one
  * projection turns them into the output.
  */
object ReleaseSchema {

  /** Artist child fields we keep. `role`/`tracks` are intentionally
    * absent: the reference reads and discards them
    * (`main.rs:742-749`), and so does [[ReleaseParser]] (SURVEY S13).
    */
  val artistXml: StructType = StructType(Seq(
    StructField("id", StringType, nullable = true),
    StructField("name", StringType, nullable = true),
    StructField("anv", StringType, nullable = true),
    StructField("join", StringType, nullable = true)))

  /** Label: attribute-only empty elements (`main.rs:626-668`).
    * The parser ignores unknown label attributes — matching the
    * reference (`main.rs:662`).
    */
  val labelXml: StructType = StructType(Seq(
    StructField("_id", StringType, nullable = true),
    StructField("_catno", StringType, nullable = true),
    StructField("_name", StringType, nullable = true)))

  /** The rows [[ReleaseParser]] emits and `DiscogsReleases.read`
    * returns, in the XML's shape: attributes as `_`-prefixed fields,
    * list items inside their container struct, the `<master_id>` text
    * as `_VALUE`.
    *
    * The eleven skip-subtrees have no field: the parser skips them
    * without building anything. All eleven are the reference's own,
    * none is an extra of real dumps: its release dispatch knows 17
    * children (`main.rs:506-565`), these eleven plus the six
    * fields below, and it has one discarding parser for each (`main.rs`
    * lines): images 758-769, extraartists 771-780, formats 782-791,
    * country 793-802, data_quality 804-813, tracklist 853-862, videos
    * 864-873, released 875-884, companies 886-895, notes 897-906,
    * identifiers 908-917.
    */
  val xmlSchema: StructType = StructType(Seq(
    StructField("_id", LongType, nullable = true), // u32-safe; cast to int on output
    StructField("_status", StringType, nullable = true),
    StructField("title", StringType, nullable = true),
    StructField("artists",
      StructType(Seq(StructField("artist", ArrayType(artistXml), nullable = true))),
      nullable = true),
    StructField("genres",
      StructType(Seq(StructField("genre", ArrayType(StringType), nullable = true))),
      nullable = true),
    StructField("styles",
      StructType(Seq(StructField("style", ArrayType(StringType), nullable = true))),
      nullable = true),
    StructField("labels",
      StructType(Seq(StructField("label", ArrayType(labelXml), nullable = true))),
      nullable = true),
    // <master_id is_main_release="...">N</master_id>: one element
    // carrying both outputs (`main.rs:815-851`); absent element ⇒ both
    // null (`main.rs:557-560`).
    StructField("master_id",
      StructType(Seq(
        StructField("_VALUE", LongType, nullable = true),
        StructField("_is_main_release", BooleanType, nullable = true))),
      nullable = true)))

  /** Output artist struct (`main.rs:185-190`): id/name required,
    * anv/join nullable (null iff the element was empty,
    * `main.rs:718-741`).
    */
  val artistOut: StructType = StructType(Seq(
    StructField("id", StringType, nullable = true),
    StructField("name", StringType, nullable = true),
    StructField("anv", StringType, nullable = true),
    StructField("join", StringType, nullable = true)))

  /** Output label struct — note the `catno` → `cat_no` rename
    * (`main.rs:649-653` vs `main.rs:181`).
    */
  val labelOut: StructType = StructType(Seq(
    StructField("id", StringType, nullable = true),
    StructField("cat_no", StringType, nullable = true),
    StructField("name", StringType, nullable = true)))

  /** Final output schema (`main.rs:193-217`). */
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

package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.{Q, SourceSinks}

/** End-to-end oracle coverage for the ETL flagship path
  * (`main.rs:436-473`): convert the checked-in releases fixture with
  * the REAL pipeline (gzip-less XML read → transform → snappy parquet
  * → read back), then flatten the nested output to scalar columns the
  * driver can hash-compare.
  *
  * The oracle side pins the expected values as literals: DuckDB cannot
  * parse XML, and the fixture is fixed content checked into the repo,
  * so the literal table IS the reference semantics (entity unescaping,
  * `catno`→`cat_no`, null-iff-absent master_id, empty-vs-null
  * anv/join, empty-list defaults — each value below exists because of
  * one of those rules; a regression in any of them breaks the hash).
  *
  * Nullable ints cross the pandas bridge as float64 (repr mismatch),
  * so `master_id`/`is_main` are COALESCEd to -1 on both sides.
  */
object EtlParity {

  val all: Seq[Q] = Seq(
    Q(
      "e01_releases_query",
      (s, dir) => {
        // `dir` (the sf tables) is unused: this query's input is the
        // checked-in XML fixture — the ETL is the thing under test.
        val work = SourceSinks.tmp("graft_e01")
        val xml = new java.io.File(work, "releases.xml")
        val in = getClass.getResourceAsStream("/releases_fixture.xml")
        try Files.copy(in, xml.toPath)
        finally in.close()
        val out = new java.io.File(work, "releases_parquet").getAbsolutePath
        DiscogsReleases.run(s, xml.getAbsolutePath, out)
        s.read.parquet(out)
          .select(
            col("id"),
            col("status"),
            col("title"),
            size(col("artists")).as("n_artists"),
            try_element_at(col("artists"), lit(1)).getField("name")
              .as("first_artist_name"),
            try_element_at(col("artists"), lit(1)).getField("anv")
              .as("first_artist_anv"),
            try_element_at(col("artists"), lit(1)).getField("join")
              .as("first_artist_join"),
            concat_ws(",", col("genres")).as("genres_csv"),
            concat_ws(",", col("styles")).as("styles_csv"),
            size(col("labels")).as("n_labels"),
            try_element_at(col("labels"), lit(1)).getField("cat_no")
              .as("first_cat_no"),
            try_element_at(col("labels"), lit(1)).getField("name")
              .as("first_label_name"),
            coalesce(col("master_id"), lit(-1)).as("master_id"),
            coalesce(col("is_main_release").cast("int"), lit(-1))
              .as("is_main"))
          .orderBy("id")
      },
      Some("""
        SELECT * FROM (VALUES
          (1, 'Accepted', 'First & Best', 1, 'Alpha', NULL, 'feat.',
           'Rock & Roll,Pop', 'Indie', 1, 'C-001', 'LabelOne', 99, 1),
          (2, 'Draft', 'Second', 2, 'Beta', 'B', NULL,
           'Jazz', '', 0, NULL, NULL, -1, -1),
          (3, 'Deleted', 'Third', 0, NULL, NULL, NULL,
           '', 'Noise,Drone', 2, 'C-002', 'LabelTwo', 100, 0),
          (4, 'Accepted', 'Stockholm', 1, 'Persuader', 'P.', '&',
           'Electronic', 'Deep House', 1, 'SK032', 'Svek', 575, 1),
          (5, 'Accepted', '日本 <3 æøå >&<', 0, NULL, NULL, NULL,
           'Électronique', '', 0, NULL, NULL, -1, -1))
        AS t(id, status, title, n_artists, first_artist_name,
             first_artist_anv, first_artist_join, genres_csv, styles_csv,
             n_labels, first_cat_no, first_label_name, master_id, is_main)
        ORDER BY id"""))
  )
}

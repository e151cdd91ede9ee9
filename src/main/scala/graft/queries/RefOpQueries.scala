package graft.queries

import graft.{QueryDef, Tables}
import graft.core.io.TextTables
import graft.functions.percent_encode
import org.apache.spark.sql.functions._

/** One verifiable demo per reference operator from SURVEY.md §2, expressed
  * over the TESTDATA tables (the driver's DuckDB oracle checks each). The
  * query keys carry the SURVEY §2 operator IDs (s1, p3, j1, …) so coverage
  * is line-by-line traceable.
  */
object RefOpQueries {

  val defs: Map[String, QueryDef] = Map(

    // ── S1: fixed-width checksum-manifest parse (checksum_lib.py:46-51) ──
    "s1_manifest_parse" -> QueryDef(
      (spark, dir) => {
        val lines = Tables.documents(spark, dir)
          .select(concat(sha2(col("text"), 256), lit("  "),
            lit("data/"), col("source"), lit("/doc_"), col("doc_id"), lit(".txt")).as("line"))
        TextTables.parseManifest(lines).orderBy(col("checksum"))
      },
      """WITH lines AS (
        |  SELECT sha256(text) || '  ' || 'data/' || source || '/doc_' || doc_id || '.txt' AS line
        |  FROM documents)
        |SELECT lower(substring(line, 1, 64)) AS checksum,
        |  trim(substring(line, 65)) AS file,
        |  regexp_extract(trim(substring(line, 65)), '([^/]*)$', 1) AS basename
        |FROM lines ORDER BY checksum""".stripMargin),

    // ── S1 via the DataSource V2 connector, WRITE side included: render
    //    (checksum, file) rows and write them through the connector's own
    //    BATCH_WRITE (distributed, one fixed-width .manifest file per
    //    partition — no driver-side collect), then read them back through
    //    the scan side — the full connector round-trip under the same
    //    oracle as the columnar parse ──
    "s1_manifest_v2_source" -> QueryDef(
      (spark, dir) => {
        val out = new java.io.File(
          System.getProperty("java.io.tmpdir"),
          s"graft_manifest_v2_${dir.replaceAll("[^a-z0-9.]", "_")}")
        // clean slate: the writer names files per partition, so a stale
        // run with a different partitioning must not leave extras behind
        val p = new org.apache.hadoop.fs.Path(out.toString)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        Tables.documents(spark, dir)
          .select(sha2(col("text"), 256).as("checksum"),
            concat(lit("data/"), col("source"), lit("/doc_"), col("doc_id"),
              lit(".txt")).as("file"), col("source"))
          // side-file-sized shards, keyed like the reference's per-series
          // manifests: one writer task per source bucket (the reader
          // re-sorts, so shard assignment is free to follow the key)
          .repartition(col("source")).drop("source")
          .write.format("graft.sources.ManifestDataSource")
          .mode("append").save(out.toString)
        spark.read.format("graft.sources.ManifestDataSource")
          .load(out.toString)
          .orderBy(col("checksum"))
      },
      """WITH lines AS (
        |  SELECT sha256(text) || '  ' || 'data/' || source || '/doc_' || doc_id || '.txt' AS line
        |  FROM documents)
        |SELECT lower(substring(line, 1, 64)) AS checksum,
        |  trim(substring(line, 65)) AS file,
        |  regexp_extract(trim(substring(line, 65)), '([^/]*)$', 1) AS basename
        |FROM lines ORDER BY checksum""".stripMargin),

    // ── S2: key:value side-file parse, left-most separator (object_lib.py:211-228) ──
    "s2_keyvalue_parse" -> QueryDef(
      (spark, dir) => {
        val lines = Tables.nation(spark, dir)
          .select(concat(col("n_name"), lit(": region "), col("n_regionkey")).as("line"))
        TextTables.parseKeyValue(lines).orderBy(col("key"))
      },
      """WITH lines AS (SELECT n_name || ': region ' || n_regionkey AS line FROM nation)
        |SELECT trim(regexp_extract(line, '^([^:]*):', 1)) AS key,
        |  trim(regexp_extract(line, '^[^:]*:(.*)$', 1)) AS value
        |FROM lines ORDER BY key""".stripMargin),

    // ── S5/A3/O3: max numeric retry-folder per reference (object_lib.py:54-85),
    //    int-cast max vs the reference's buggy lexicographic max ──
    "s5_max_retry_folder" -> QueryDef(
      (spark, dir) => {
        val keys = Tables.events(spark, dir)
          .select(col("user_id"),
            concat(lit("consignments/judgment/TDR-"), col("user_id"), lit("/"),
              pmod(col("event_id"), lit(13)), lit("/file.tar.gz")).as("key"))
        keys.groupBy(col("user_id"))
          .agg(max(regexp_extract(col("key"), "/([0-9]+)/", 1).cast("int")).as("max_retry"),
            max(regexp_extract(col("key"), "/([0-9]+)/", 1)).as("max_retry_lex"))
          .orderBy(col("user_id"))
      },
      """WITH keys AS (
        |  SELECT user_id,
        |    'consignments/judgment/TDR-' || user_id || '/' || (event_id % 13) || '/file.tar.gz' AS key
        |  FROM events)
        |SELECT user_id,
        |  CAST(max(CAST(regexp_extract(key, '/([0-9]+)/', 1) AS INT)) AS INT) AS max_retry,
        |  max(regexp_extract(key, '/([0-9]+)/', 1)) AS max_retry_lex
        |FROM keys GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ── P9/P10: basename + dirname + prefix/suffix strip (tar_lib.py:52-54 etc.) ──
    "p9_path_functions" -> QueryDef(
      (spark, dir) => {
        val paths = Tables.documents(spark, dir)
          .select(col("doc_id"),
            concat(lit("./data/"), col("source"), lit("/doc_"), col("doc_id"), lit(".txt")).as("path"))
        paths.select(
          col("doc_id"),
          regexp_replace(col("path"), "^\\./", "").as("stripped"),
          TextTables.basename(col("path")).as("basename"),
          TextTables.dirname(regexp_replace(col("path"), "^\\./", "")).as("dirname"),
          regexp_replace(col("path"), "\\.txt$", "").as("no_suffix"))
          .orderBy(col("doc_id"))
      },
      """WITH paths AS (
        |  SELECT doc_id, './data/' || source || '/doc_' || doc_id || '.txt' AS path
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(path, '^\./', '') AS stripped,
        |  regexp_extract(path, '([^/]*)$', 1) AS basename,
        |  regexp_extract(regexp_replace(path, '^\./', ''), '^(.*)/', 1) AS dirname,
        |  regexp_replace(path, '\.txt$', '') AS no_suffix
        |FROM paths ORDER BY doc_id""".stripMargin),

    // ── P12: JSON path extraction (tre_sqs_sf_trigger.py:49-66) ──
    "p12_json_extract" -> QueryDef(
      (spark, dir) =>
        Tables.events(spark, dir)
          .select(col("event_id"),
            get_json_object(col("props"), "$.k").cast("int").as("k"))
          .orderBy(col("event_id")),
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin),

    // ── P13/O2: latest-UUID = last element of provenance array
    //    (tre_sqs_sf_trigger.py:68-88) ──
    "p13_latest_uuid" -> QueryDef(
      (spark, dir) =>
        Tables.documents(spark, dir)
          .select(col("doc_id"),
            array(md5(col("doc_id").cast("string")), md5(col("text"))).as("uuids"))
          .select(col("doc_id"),
            element_at(col("uuids"), -1).as("latest_uuid"),
            size(col("uuids")).as("n_uuids"))
          .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  ([md5(CAST(doc_id AS VARCHAR)), md5(text)])[-1] AS latest_uuid,
        |  CAST(len([md5(CAST(doc_id AS VARCHAR)), md5(text)]) AS INT) AS n_uuids
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── P14: ARN → resource name, split(':')[5] (tre_dlq_slack_alerts.py:22-23) ──
    "p14_arn_resource" -> QueryDef(
      (spark, dir) => {
        val arns = Tables.events(spark, dir)
          .select(col("event_id"),
            concat(lit("arn:aws:sqs:eu-west-2:"), col("user_id"),
              lit(":queue-"), col("event_type")).as("arn"))
        arns.select(col("event_id"), split(col("arn"), ":").getItem(5).as("resource"))
          .orderBy(col("event_id"))
      },
      """SELECT event_id,
        |  split_part('arn:aws:sqs:eu-west-2:' || user_id || ':queue-' || event_type, ':', 6) AS resource
        |FROM events ORDER BY event_id""".stripMargin),

    // ── P3: DRI identifier build — leading data/ → file:/BATCH/SERIES/,
    //    percent-encode keeping ':' '/', trailing '/' for folders
    //    (tre_bagit.py:72-76) ──
    "p3_dri_identifier" -> QueryDef(
      (spark, dir) => {
        val rows = Tables.documents(spark, dir)
          .select(col("doc_id"),
            concat(lit("data/"), col("source"), lit("/doc "), col("doc_id"), lit(".txt")).as("filepath"),
            (pmod(col("doc_id"), lit(10)) === 0).as("is_folder"))
        rows.select(col("doc_id"),
          concat(
            percent_encode(regexp_replace(col("filepath"), "^data/",
              "file:/MOCKA101Y22TBAA1/MOCKA_101/")),
            when(col("is_folder"), lit("/")).otherwise(lit(""))).as("identifier"))
          .orderBy(col("doc_id"))
      },
      // Input charset here is [a-z0-9 /:._-] so the only encoded byte is
      // the space — the full quote() behavior is unit-tested in Scala.
      """SELECT doc_id,
        |  replace(regexp_replace('data/' || source || '/doc ' || doc_id || '.txt',
        |    '^data/', 'file:/MOCKA101Y22TBAA1/MOCKA_101/'), ' ', '%20')
        |  || (CASE WHEN doc_id % 10 = 0 THEN '/' ELSE '' END) AS identifier
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── J1: manifest checksum lookup — broadcast left join + coalesce('')
    //    (tre_bagit.py:78-81; reference does an O(n²) scan) ──
    "j1_manifest_lookup" -> QueryDef(
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val manifest = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id").as("m_doc_id"), sha2(col("text"), 256).as("m_checksum"))
        docs.join(broadcast(manifest), col("doc_id") === col("m_doc_id"), "left")
          .select(col("doc_id"), col("source"),
            coalesce(col("m_checksum"), lit("")).as("checksum"))
          .orderBy(col("doc_id"))
      },
      """SELECT d.doc_id, d.source, coalesce(m.m_checksum, '') AS checksum
        |FROM documents d
        |LEFT JOIN (SELECT doc_id AS m_doc_id, sha256(text) AS m_checksum
        |           FROM documents WHERE doc_id % 2 = 0) m
        |  ON d.doc_id = m.m_doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // ── J3/A5: expected-vs-computed checksum verification join
    //    (checksum_lib.py:121-154); mismatches → error channel ──
    "j3_checksum_verify" -> QueryDef(
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val expected = docs.select(col("doc_id"), sha2(col("text"), 256).as("expected"))
        val computed = docs.select(col("doc_id").as("c_doc_id"),
          sha2(when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit("x")))
            .otherwise(col("text")), 256).as("computed"))
        expected.join(computed, col("doc_id") === col("c_doc_id"))
          .filter(col("expected") =!= col("computed"))
          .select(col("doc_id"), col("expected"), col("computed"))
          .orderBy(col("doc_id"))
      },
      """SELECT e.doc_id, e.expected, c.computed FROM
        |  (SELECT doc_id, sha256(text) AS expected FROM documents) e
        |JOIN
        |  (SELECT doc_id, sha256(CASE WHEN doc_id % 7 = 0 THEN text || 'x' ELSE text END) AS computed
        |   FROM documents) c
        |  ON e.doc_id = c.doc_id
        |WHERE e.expected <> c.computed
        |ORDER BY e.doc_id""".stripMargin),

    // ── A1/A2: file-count reconciliation per bag
    //    (tre_vb_validate_bagit_files.py:88-121: 1 + |root| + |data| = |extracted|) ──
    "a1_count_reconciliation" -> QueryDef(
      // all three counts come off ONE scan as conditional aggregates (one
      // shuffle, map-side partial) — the join-based reconcile for
      // genuinely independent inputs is `BagitValidate.reconcileCounts`,
      // the specs' reference for the pipeline's bag-local `checkBag`
      (spark, dir) =>
        Tables.documents(spark, dir)
          .groupBy(col("source"))
          .agg(
            sum(when(pmod(col("doc_id"), lit(5)) === 0, 1L).otherwise(0L)).as("root_n"),
            sum(when(pmod(col("doc_id"), lit(5)) =!= 0, 1L).otherwise(0L)).as("data_n"),
            count(lit(1)).as("extracted_n"))
          .select(col("source"), col("root_n"), col("data_n"), col("extracted_n"),
            (col("root_n") + col("data_n") === col("extracted_n")).as("reconciled"))
          .orderBy(col("source")),
      """WITH r AS (SELECT source, count(*) AS root_n FROM documents WHERE doc_id % 5 = 0 GROUP BY source),
        |d AS (SELECT source, count(*) AS data_n FROM documents WHERE doc_id % 5 <> 0 GROUP BY source),
        |e AS (SELECT source, count(*) AS extracted_n FROM documents GROUP BY source)
        |SELECT e.source, coalesce(r.root_n, 0) AS root_n, coalesce(d.data_n, 0) AS data_n,
        |  e.extracted_n, coalesce(r.root_n, 0) + coalesce(d.data_n, 0) = e.extracted_n AS reconciled
        |FROM e LEFT JOIN r ON e.source = r.source LEFT JOIN d ON e.source = d.source
        |ORDER BY e.source""".stripMargin),

    // ── A6: per-batch success/failure tally (tre_forward.py:109-142) ──
    "a6_status_tally" -> QueryDef(
      (spark, dir) =>
        Tables.documents(spark, dir)
          .select(when(pmod(col("doc_id"), lit(7)) === 0, lit("fail"))
            .otherwise(lit("ok")).as("status"))
          .groupBy(col("status")).agg(count(lit(1)).as("n"))
          .orderBy(col("status")),
      """SELECT CASE WHEN doc_id % 7 = 0 THEN 'fail' ELSE 'ok' END AS status,
        |  count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY status""".stripMargin),

    // ── U1/U2: set-difference validation (stronger than the reference's
    //    count-equality; SURVEY §2.7) ──
    "u1_set_difference" -> QueryDef(
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
          .filter(pmod(col("doc_id"), lit(2)) === 0).select(col("doc_id").as("id"))
        val listed = Tables.embeddings(spark, dir)
          .filter(pmod(col("vec_id"), lit(3)) === 0).select(col("vec_id").as("id"))
        docs.except(listed).withColumn("side", lit("only_manifest"))
          .unionByName(listed.except(docs).withColumn("side", lit("only_listing")))
          .orderBy(col("side"), col("id"))
      },
      """WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id % 2 = 0),
        |l AS (SELECT vec_id AS id FROM embeddings WHERE vec_id % 3 = 0)
        |SELECT id, 'only_manifest' AS side FROM (SELECT id FROM d EXCEPT SELECT id FROM l)
        |UNION ALL
        |SELECT id, 'only_listing' AS side FROM (SELECT id FROM l EXCEPT SELECT id FROM d)
        |ORDER BY side, id""".stripMargin),

    // ── U3: union of object groups before packaging (tre_bagit_to_dri_sip.py:85-96) ──
    "u3_union_groups" -> QueryDef(
      (spark, dir) => {
        val a = Tables.documents(spark, dir)
          .select(col("doc_id").as("id"), lit("metadata").as("grp"))
        val b = Tables.embeddings(spark, dir)
          .select(col("vec_id").as("id"), lit("data").as("grp"))
        a.unionByName(b).groupBy(col("grp")).agg(count(lit(1)).as("n"))
          .orderBy(col("grp"))
      },
      """SELECT grp, count(*) AS n FROM (
        |  SELECT doc_id AS id, 'metadata' AS grp FROM documents
        |  UNION ALL
        |  SELECT vec_id AS id, 'data' AS grp FROM embeddings)
        |GROUP BY grp ORDER BY grp""".stripMargin),

    // ── O1: semver-style max (ecr_version_filter.py:1-60): numeric
    //    struct ordering, not lexicographic ──
    "o1_version_max" -> QueryDef(
      (spark, dir) => {
        val v = Tables.part(spark, dir)
          .select(concat(pmod(col("p_partkey"), lit(13)), lit("."),
            pmod(col("p_partkey"), lit(21)), lit("."),
            pmod(col("p_partkey"), lit(8))).as("version"))
          .distinct()
          .select(col("version"),
            split(col("version"), "\\.").getItem(0).cast("int").as("major"),
            split(col("version"), "\\.").getItem(1).cast("int").as("minor"),
            split(col("version"), "\\.").getItem(2).cast("int").as("patch"))
        v.orderBy(col("major").desc, col("minor").desc, col("patch").desc, col("version"))
          .limit(1)
          .select(col("version"), col("major"), col("minor"), col("patch"))
      },
      """WITH v AS (
        |  SELECT DISTINCT (p_partkey % 13) || '.' || (p_partkey % 21) || '.' || (p_partkey % 8) AS version
        |  FROM part)
        |SELECT version,
        |  CAST(string_split(version, '.')[1] AS INT) AS major,
        |  CAST(string_split(version, '.')[2] AS INT) AS minor,
        |  CAST(string_split(version, '.')[3] AS INT) AS patch
        |FROM v
        |ORDER BY major DESC, minor DESC, patch DESC, version LIMIT 1""".stripMargin),

    // ── §2.8: URL parsing (urlparse(...).path, tre_vb_validate_bagit.py:78-83) ──
    "p_url_parse" -> QueryDef(
      (spark, dir) => {
        val urls = Tables.documents(spark, dir)
          .select(col("doc_id"),
            concat(lit("https://bucket.s3.eu-west-2.amazonaws.com/consignments/judgment/TDR-"),
              col("doc_id"), lit("/0/doc.tar.gz?X-Amz-Expires=60")).as("url"))
        urls.select(col("doc_id"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          element_at(split(parse_url(col("url"), lit("PATH")), "/"), -1).as("basename"))
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id,
        |  'bucket.s3.eu-west-2.amazonaws.com' AS host,
        |  '/consignments/judgment/TDR-' || doc_id || '/0/doc.tar.gz' AS path,
        |  'doc.tar.gz' AS basename
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── §2.8: ISO-8601 formatting + Z-strip (tre_bagit.py:83-88) ──
    "p5_timestamp_format" -> QueryDef(
      (spark, dir) =>
        Tables.orders(spark, dir)
          .select(col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("iso"),
            regexp_replace(
              concat(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss"), lit("Z")),
              "Z$", "").as("z_stripped"))
          .orderBy(col("o_orderkey")),
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso,
        |  regexp_replace(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') || 'Z', 'Z$', '') AS z_stripped
        |FROM orders ORDER BY o_orderkey""".stripMargin)
  )
}

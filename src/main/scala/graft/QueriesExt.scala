package graft

import graft.GraftSession.table
import graft.functions.{DetHash, ListParse, TextFns}
import graft.ops.Scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Wave-2 operator queries (SURVEY.md §2 coverage beyond the core
  * wave): remaining aggregations/windows/reshapes, the §2.7 scalar
  * function surface, deterministic split/sampling, and the
  * levenshtein best-match join. Same oracle conventions as
  * [[SparkEntry]] (decimal-space money math, total ORDER BY, 4dp
  * rounding, DetHash for anything "random").
  */
object QueriesExt {

  private def li(s: SparkSession, dir: String)   = table(s, dir, "lineitem")
  private def ord(s: SparkSession, dir: String)  = table(s, dir, "orders")
  private def supp(s: SparkSession, dir: String) = table(s, dir, "supplier")
  private def nat(s: SparkSession, dir: String)  = table(s, dir, "nation")
  private def prt(s: SparkSession, dir: String)  = table(s, dir, "part")
  private def ev(s: SparkSession, dir: String)   = table(s, dir, "events")
  private def docs(s: SparkSession, dir: String) = table(s, dir, "documents")

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Columns x_table_profile profiles — ONE constant drives both the
    * Spark frame and the generated oracle SQL so the two sides move
    * together if the orders schema ever changes.
    */
  private val TableProfileCols = Seq("o_orderkey", "o_custkey",
    "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")

  /** S1 gate fixture: nation rows → a generated TWO-page PDF (page 1:
    * simple font, raw content stream; page 2: Identity-H CID font with
    * a ToUnicode bfrange CMap — the production-writer layout) → the
    * JDK-only simple-PDF codec → binaryFile paragraph table,
    * hash-compared against the same text recomputed from the parquet
    * table. With `encrypted = true`, every stream is RC4-128-encrypted
    * under the standard security handler (arbitrary-but-fixed /O and
    * /ID — the reader derives its key from them as given; password
    * round-tripping is the fixture spec's job).
    */
  private def nationPdfQuery(s: SparkSession, dir: String, encrypted: Boolean,
      v5: Boolean = false): DataFrame = {
    import graft.sources.{PdfSource, SimplePdfExtractor}
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val rows = nat(s, dir)
      .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
      .orderBy(col("n_nationkey")).collect() // dim-scale fixture build
    def escape(p: String) = p.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    val paras = rows.map(r => s"nation ${r.getString(1)} region ${r.getLong(2)} body text here")
    val content = "BT /F1 12 Tf 72 720 Td " +
      paras.map(p => s"(${escape(p)}) Tj").mkString(" 0 -14 Td 0 -14 Td ") + " ET"
    // page 2: the same rows as 2-byte Identity-H codes; the CMap's
    // single bfrange maps printable-ASCII codes to themselves
    def cidHex(p: String) = p.map(c => f"${c.toInt}%04X").mkString
    val cidParas = rows.map(r => s"cid appendix ${r.getString(1)} region ${r.getLong(2)}")
    val content2 = "BT /F9 12 Tf 72 720 Td " +
      cidParas.map(p => s"<${cidHex(p)}> Tj").mkString(" 0 -14 Td 0 -14 Td ") + " ET"
    val cmap =
      "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
        "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" +
        "1 beginbfrange\n<0020> <007E> <0020>\nendbfrange\nendcmap\n"
    val oEntry = Array.tabulate(32)(_.toByte)
    val id0    = Array.tabulate(16)(i => (i * 17 + 3).toByte)
    val perm   = -3904
    val key =
      if (encrypted && !v5)
        Some(SimplePdfExtractor.fileKey(oEntry, perm, id0, r = 3, lengthBits = 128,
          encryptMetadata = true))
      else None
    // V5 (AES-256 R6): arbitrary-but-fixed file key; every stream
    // encrypts under it directly (no per-object derivation)
    val fk = Array.tabulate[Byte](32)(i => (i * 7 + 1).toByte)
    def aesEnc(k: Array[Byte], iv: Array[Byte], data: Array[Byte], pad: Boolean): Array[Byte] = {
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(k, "AES"),
        new javax.crypto.spec.IvParameterSpec(iv))
      val body =
        if (pad) { val p = 16 - data.length % 16; data ++ Array.fill(p.toInt)(p.toByte) }
        else data
      c.doFinal(body)
    }
    def stream(num: Int, body: String): String = {
      val enc =
        if (v5) {
          val iv = Array.tabulate[Byte](16)(i => (i + num).toByte)
          new String(iv ++ aesEnc(fk, iv, body.getBytes(ISO_8859_1), pad = true), ISO_8859_1)
        } else key match {
          case Some(k) =>
            new String(SimplePdfExtractor.rc4(
              SimplePdfExtractor.objectKey(k, num, 0, aes = false),
              body.getBytes(ISO_8859_1)), ISO_8859_1)
          case None => body
        }
      s"$num 0 obj << /Length ${enc.length} >> stream\n$enc\nendstream endobj\n"
    }
    def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
    val tail =
      if (v5) {
        // the reader validates /U's 2.B hash and unwraps /UE, so the
        // writer must construct both for real; /O, /OE are owner-side
        // entries the empty-user open path never reads
        val vs = Array.tabulate[Byte](8)(_.toByte)
        val ks = Array.tabulate[Byte](8)(i => (i + 8).toByte)
        val u  = SimplePdfExtractor.hash2b(6, vs, Array.emptyByteArray) ++ vs ++ ks
        val ue = aesEnc(SimplePdfExtractor.hash2b(6, ks, Array.emptyByteArray),
          new Array[Byte](16), fk, pad = false)
        val o  = Array.tabulate[Byte](48)(i => (i * 3 + 5).toByte)
        val oe = Array.tabulate[Byte](32)(i => (i * 5 + 7).toByte)
        s"9 0 obj << /Filter /Standard /V 5 /R 6 /Length 256 " +
          s"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF /StrF /StdCF " +
          s"/O <${hex(o)}> /U <${hex(u)}> /OE <${hex(oe)}> /UE <${hex(ue)}> /P $perm >> endobj\n" +
          s"trailer << /Root 1 0 R /Encrypt 9 0 R /ID [<${hex(id0)}> <${hex(id0)}>] >>\n%%EOF\n"
      } else key match {
        case Some(k) =>
          // the reader VERIFIES /U (Algorithm 5) before decrypting, so
          // the writer must emit the real entry (+16 bytes spec padding)
          val u = SimplePdfExtractor.userEntry(k, id0, r = 3) ++ Array.fill[Byte](16)(0)
          s"9 0 obj << /Filter /Standard /V 2 /R 3 /Length 128 " +
            s"/O <${hex(oEntry)}> /U <${hex(u)}> /P $perm >> endobj\n" +
            s"trailer << /Root 1 0 R /Encrypt 9 0 R /ID [<${hex(id0)}> <${hex(id0)}>] >>\n%%EOF\n"
        case None => "%%EOF\n"
      }
    val doc =
      "%PDF-1.4\n" +
        "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
        "2 0 obj << /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >> endobj\n" +
        "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
        stream(4, content) +
        "5 0 obj << /Type /Page /Parent 2 0 R " +
        "/Resources << /Font << /F9 6 0 R >> >> /Contents 7 0 R >> endobj\n" +
        "6 0 obj << /Type /Font /Subtype /Type0 /BaseFont /GraftCID " +
        "/Encoding /Identity-H /ToUnicode 8 0 R >> endobj\n" +
        stream(7, content2) +
        stream(8, cmap) +
        tail
    val tmp = java.nio.file.Files.createTempDirectory("pdf-rt")
    java.nio.file.Files.write(tmp.resolve("nations.pdf"), doc.getBytes(ISO_8859_1))
    PdfSource.readPdfParagraphs(s, tmp.toString, new SimplePdfExtractor())
      .select(col("pdf_name"), col("page"), col("para_idx"), col("paragraph"))
      .orderBy(col("page"), col("para_idx"))
  }

  /** ONE SQL text, two engines: executed verbatim by `spark.sql` and
    * by the DuckDB oracle (ANSI core only — scalar subquery, HAVING,
    * CASE, decimal casts; no timestamp literals, where the engines'
    * session-TZ semantics diverge).
    */
  private val SharedSqlText: String =
    """SELECT l_returnflag,
      | count(*) AS n,
      | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
      | CASE WHEN count(*) > 15000 THEN 'big' ELSE 'small' END AS size_class,
      | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) /
      |   (SELECT CAST(count(*) AS DOUBLE) FROM orders), 4) AS price_per_order
      |FROM lineitem
      |WHERE l_discount <= 0.1 AND l_quantity >= 1
      |GROUP BY l_returnflag
      |HAVING count(*) > 1000
      |ORDER BY l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- FULL OUTER join with asymmetric sides (left-only, both,
    // right-only all populated); keys coalesced and absent-side
    // values sentineled so no cross-engine nulls ride the hash
    "x_join_full_outer" -> ((s, dir) => {
      val oc = table(s, dir, "orders").filter(col("o_custkey") < 800)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"))
      val cust = table(s, dir, "customer").filter(col("c_custkey") >= 400)
        .select(col("c_custkey").as("custkey"), col("c_acctbal"))
      oc.join(cust, Seq("custkey"), "full_outer")
        .select(col("custkey"),
          coalesce(col("n_orders"), lit(-1L)).as("n_orders"),
          coalesce(round(col("c_acctbal"), 2), lit(-1.0)).as("acctbal"))
        .orderBy(col("custkey"))
    }),

    // ---- the full rank-function family over one deterministic
    // (unique) ordering: rank / dense_rank / percent_rank / ntile /
    // cume_dist — Spark plans them all in ONE Window over one
    // exchange+sort
    "x_window_ranks" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      table(s, dir, "lineitem").filter(col("l_partkey") < 100)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          round(percent_rank().over(w), 6).as("prnk"),
          ntile(4).over(w).as("quartile"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("l_returnflag"), col("rnk"))
    }),
    // S1 under the oracle gate: nation rows → a generated TWO-page PDF
    // (page 1: simple font, raw content stream; page 2: Identity-H
    // CID font with a ToUnicode bfrange CMap — the production-writer
    // layout) → the JDK-only simple-PDF codec → binaryFile paragraph
    // table, hash-compared against the same text recomputed from the
    // parquet table. Any regression in the object scan, stream
    // carving, BT..ET walk, Resources/Font resolution, CMap decode, or
    // paragraph plumbing breaks the hash.
    "s1_pdf_roundtrip" -> ((s, dir) => nationPdfQuery(s, dir, encrypted = false)),

    // S1 through the ENCRYPTED read path: the same generated two-page
    // nation PDF, but every stream RC4-128-encrypted under the
    // standard security handler's empty-user-password key (V2 R3) —
    // the transparent-open case production ESG reports ship with. Same
    // oracle as s1_pdf_roundtrip: any regression in key derivation,
    // per-object keys, or the RC4 cipher breaks the hash. (Spec-level
    // conformance of the handler itself is pinned separately against
    // python-generated golden fixtures in SimplePdfSpec.)
    "s1_pdf_encrypted" -> ((s, dir) => nationPdfQuery(s, dir, encrypted = true)),

    // S1 through the MODERN encrypted read path: same document, AES-256
    // AESV3 (V5 R6, ISO 32000-2 / Acrobat X+) — /U's hardened-2.B hash
    // validated, file key unwrapped from /UE, streams AES-256-CBC.
    // Same oracle again; spec-level conformance is pinned against the
    // independent python-generated aes256 fixtures in SimplePdfSpec.
    "s1_pdf_aes256" -> ((s, dir) => nationPdfQuery(s, dir, encrypted = true, v5 = true)),

    // S12: XML scan/sink (Spark 4 built-in xml source — the format
    // ESG/XBRL disclosures actually arrive in): nation → XML document
    // → schema-inferred read-back, hash vs the parquet table. The
    // sf-keyed fixed path is overwritten per run (no temp-dir leak,
    // the j12 lesson).
    "s12_xml_roundtrip" -> ((s, dir) => {
      val wh = GraftSession.gatePath("xml", dir)
      nat(s, dir).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .coalesce(1)
        .write.mode("overwrite").format("xml")
        .option("rootTag", "nations").option("rowTag", "nation").save(wh)
      s.read.format("xml").option("rowTag", "nation").load(wh)
        .select(col("n_nationkey").cast("long"), col("n_name"),
          col("n_regionkey").cast("long"))
        .orderBy(col("n_nationkey"))
    }),

    // S8 through the gate: ORC write → read → aggregate against the
    // raw-table oracle (the layout is semantics-free, same contract
    // as j12/s12); sf-keyed fixed path, overwritten per run.
    "s8_orc_roundtrip" -> ((s, dir) => {
      val wh = GraftSession.gatePath("orc", dir)
      ord(s, dir).select(col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").format("orc").save(wh)
      s.read.format("orc").load(wh)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    // S5 hardened: PERMISSIVE CSV ingest with corrupt-record
    // quarantine — production files carry broken lines, and silently
    // dropping them (DROPMALFORMED) loses data while failing the job
    // (FAILFAST) loses the day. Well-formed rows land typed, malformed
    // lines land whole in _corrupt_record; the query reports both
    // streams (clean aggregate + quarantine count) so the oracle pins
    // the split exactly. Fixture: nation rows, every 5th line mangled
    // (non-numeric key, dropped column).
    "s5_csv_quarantine" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val rows = nat(s, dir)
        .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
        .orderBy(col("n_nationkey")).collect() // dim-scale fixture build
      val lines = rows.map { r =>
        val (k, nm, rk) = (r.getLong(0), r.getString(1), r.getLong(2))
        if (k % 5 == 0) s"not_a_number;$nm" // mangled: bad key, missing col
        else s"$k;$nm;$rk"
      }
      val tmp = java.nio.file.Files.createTempDirectory("csv-quarantine")
      java.nio.file.Files.write(tmp.resolve("nations.csv"),
        lines.mkString("\n").getBytes("UTF-8"))
      val schema = StructType(Seq(
        StructField("nationkey", LongType), StructField("name", StringType),
        StructField("regionkey", LongType), StructField("_corrupt_record", StringType)))
      val read = s.read.schema(schema)
        .option("sep", ";").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(tmp.toString)
        // filtering on _corrupt_record next to data columns needs a
        // checkpoint-cut plan (Spark disallows the lazy mix over the
        // raw scan; the LogicalRDD cut satisfies it — analysis never
        // sees the csv scan). Scale.shared, not cache: the returned
        // frame is consumed lazily by the caller, so a cache() here
        // could never be unpersisted and would leak a cached plan
        // into the shared session; checkpoint blocks are
        // GC-reclaimed instead.
        .transform(graft.ops.Scale.shared)
      val clean = read.filter(col("_corrupt_record").isNull)
        .groupBy(col("regionkey"))
        .agg(count(lit(1)).as("n_ok"), min(col("name")).as("first_name"))
      val bad = read.filter(col("_corrupt_record").isNotNull)
        .agg(lit(-1L).as("regionkey"), count(lit(1)).as("n_ok"),
          min(col("_corrupt_record")).as("first_name"))
      clean.unionByName(bad).orderBy(col("regionkey"))
    }),

    // S4 under the oracle gate: nation → written as a real .xlsx
    // (inline strings) → read back through the JDK-only OOXML decode
    // path → typed projection the oracle recomputes from the parquet
    // table directly. A decode bug anywhere (zip, StAX, refs, header
    // projection) breaks the hash.
    "s4_xlsx_roundtrip" -> ((s, dir) => {
      import graft.sources.XlsxSource
      val tmp = java.nio.file.Files.createTempDirectory("xlsx-rt").toString
      val n = nat(s, dir).select(
        col("n_nationkey").cast("string").as("nationkey"),
        col("n_name").as("name"),
        col("n_regionkey").cast("string").as("regionkey"))
      XlsxSource.writeXlsx(n, s"$tmp/nation.xlsx", "data_ex_in_xls")
      XlsxSource.readXlsx(s, tmp, "data_ex_in_xls")
        .select(
          col("nationkey").cast("long").as("n_nationkey"),
          col("name").as("n_name"),
          col("regionkey").cast("long").as("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }),
    // ---- §2.4 remaining aggregations --------------------------------------
    "a2_sum_groupby" -> ((s, dir) =>
      ord(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          round(sum(dec(col("o_totalprice"))).cast("double"), 2).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))),
    "a4_boolall_condmax" -> ((s, dir) =>
      // A4 shape: groups where EVERY row satisfies the predicate emit a
      // conditional max (text_kpi_infer.py:17-29 no-answer aggregation)
      ev(s, dir)
        .groupBy(col("user_id"))
        .agg(every(col("value") < 250).as("all_low"), max(col("value")).as("max_value"),
          count(lit(1)).as("n_events"))
        .filter(col("all_low"))
        .select(col("user_id"), col("max_value"), col("n_events"))
        .orderBy(col("user_id"))),

    // ---- §2.2 remaining filters / dedups ----------------------------------
    "p5_group_first" -> ((s, dir) =>
      // keep-first/last per group by event time (text_curator.py:101);
      // ts is globally unique in the testdata so min_by/max_by are total
      ev(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min_by(col("event_id"), col("ts")).as("first_event_id"),
          max_by(col("event_id"), col("ts")).as("last_event_id"))
        .orderBy(col("user_id"))),
    "p7_size_filter" -> ((s, dir) => {
      val toks = filter(split(col("text"), " "), t => t =!= "")
      docs(s, dir)
        .select(col("doc_id"), size(toks).as("n_tokens"))
        .filter(col("n_tokens") > 60)
        .orderBy(col("doc_id"))
    }),

    // ---- §2.5 windows / sorts ---------------------------------------------
    "w2_argmax" -> ((s, dir) => {
      // argmax via exact integer composite order (value is 2dp: cents
      // are exact in 64-bit) — max_by needs a total order for parity
      val ordKey = (round(col("value") * 100).cast("long") * 10000000L + col("event_id"))
      ev(s, dir)
        .groupBy(col("event_type"))
        .agg(
          max_by(col("event_id"), ordKey).as("top_event_id"),
          max_by(col("value"), ordKey).as("top_value"))
        .orderBy(col("event_type"))
    }),
    "w3_global_topn_rank" -> ((s, dir) =>
      // global sort + rank; single-partition window is fine for a
      // top-n (the sort is a shuffle-free TakeOrdered at any scale)
      supp(s, dir)
        .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
        .limit(50)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("s_acctbal").desc, col("s_suppkey").asc)))
        .select(col("rank"), col("s_suppkey"), round(col("s_acctbal"), 2).as("s_acctbal"))
        .orderBy(col("rank"))),

    // ---- §2.6 remaining reshapes ------------------------------------------
    "r3_flatten_tokens" -> ((s, dir) => {
      val toks = filter(split(col("text"), " "), t => t =!= "")
      docs(s, dir)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), explode(toks).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("token"))
    }),
    "r5_struct_expand" -> ((s, dir) =>
      li(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          struct(
            round(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))), 2)
              .cast("double").as("net"),
            col("l_returnflag").as("flag")).as("s"))
        .select(col("l_orderkey"), col("l_linenumber"), col("s.*"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),
    "r6_nest_json" -> ((s, dir) =>
      // R6 nest: per-order sorted array of structs serialized to JSON —
      // collect_list order made total via array_sort (SURVEY §7.5 risk 4)
      li(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(to_json(array_sort(collect_list(
          struct(col("l_linenumber").as("ln"), col("l_quantity").cast("long").as("qty"))))).as("lines_json"))
        .orderBy(col("l_orderkey"))),

    // ---- §2.3 remaining joins ---------------------------------------------
    "j5_affinity_join" -> ((s, dir) => {
      // filename-affinity: annotation row ↔ dir listing via substring
      // containment (text_curator.py:366-392) — broadcast theta-join
      val files = docs(s, dir).select(concat(col("source"), lit(".json")).as("file")).distinct()
      val ann   = docs(s, dir).filter(col("doc_id") < 20).select(col("doc_id"), col("source"))
      ann.join(broadcast(files), col("file").contains(col("source")))
        .select(col("doc_id"), col("file"))
        .orderBy(col("doc_id"), col("file"))
    }),
    "j7_best_match_join" -> ((s, dir) => {
      // fuzzy best-match join (table_curator.py:169-191): block, score
      // with levenshtein (built-in in both engines), argmin by window
      val sup = supp(s, dir).filter(col("s_suppkey") < 50)
        .select(col("s_suppkey"), col("s_name"), pmod(col("s_suppkey"), lit(10)).as("blk"))
      val parts = prt(s, dir)
        .select(col("p_partkey"), col("p_name"), pmod(col("p_partkey"), lit(10)).as("blk"))
      val w = Window.partitionBy(col("s_suppkey"))
        .orderBy(col("dist").asc, col("p_partkey").asc)
      sup.join(parts, Seq("blk"))
        .withColumn("dist", levenshtein(col("s_name"), col("p_name")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("s_suppkey"), col("p_partkey").as("best_partkey"), col("dist"))
        .orderBy(col("s_suppkey"))
    }),

    // ---- §2.7 scalar function surface -------------------------------------
    "f1_clean_text" -> ((s, dir) => {
      val messy = concat(lit("[“"), substring(col("text"), 1, 40),
        lit("”]\n  quoted “x”\ttail  end"))
      docs(s, dir)
        .select(col("doc_id"), TextFns.cleanText(messy).as("cleaned"))
        .orderBy(col("doc_id"))
    }),
    "f2_clean_text_kpi" -> ((s, dir) => {
      val messy = concat(lit("(Why?) ["), substring(col("text"), 1, 40),
        lit("]\nEnd... x+y|z{q}$5 “ok”"))
      docs(s, dir)
        .select(col("doc_id"), TextFns.cleanTextKpi(messy).as("cleaned"))
        .orderBy(col("doc_id"))
    }),
    "f5_numeric_parse" -> ((s, dir) => {
      val spaced = concat(col("o_orderkey").cast("string"), lit(" "),
        col("o_custkey").cast("string"), lit(",75"))
      ord(s, dir)
        .select(col("o_orderkey"), TextFns.strWithSpacesToNumeric(spaced).as("parsed"))
        .orderBy(col("o_orderkey"))
    }),
    "f6_list_parse" -> ((s, dir) => {
      // stringified-list cells incl. the reference's bracket-typo repair
      // (qa_utils.py:93-112, kpi_inference_curator.py:194-271)
      val pages = concat(lit("["), pmod(col("l_orderkey"), lit(5)).cast("string"),
        lit(", "), col("l_linenumber").cast("string"), lit("]"))
      val paraRaw = concat(lit("[\"para "), pmod(col("l_orderkey"), lit(7)).cast("string"),
        lit("\", \"p"), col("l_linenumber").cast("string"), lit("\"]"))
      val para = when(pmod(col("l_orderkey"), lit(4)) === 0,
          concat(lit("{"), paraRaw.substr(lit(2), length(paraRaw))))
        .when(pmod(col("l_orderkey"), lit(4)) === 1, lit("nope"))
        .otherwise(paraRaw)
      // outputs stringified (array_join): scalar cells keep the driver's
      // pandas row-sort hashable; NULL arrays stay NULL on both engines
      li(s, dir)
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          array_join(ListParse.parseSourcePages(pages).cast("array<string>"), ",").as("pages"),
          array_join(ListParse.parseParagraphList(para), ",").as("paras"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "f6_props_json" -> ((s, dir) =>
      ev(s, dir)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType))))
            .getField("k").as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("k"))),
    // ---- INTERSECT / EXCEPT (the set-op family beyond UNION ALL):
    // customers ordering in BOTH priority classes, and in the first
    // but never the second. Spark plans both as aggregated semi/anti
    // joins — no sort-based set difference.
    "x_set_ops" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      def custs(prio: String) =
        o.filter(col("o_orderpriority") === prio).select(col("o_custkey"))
      val both = custs("1-URGENT").intersect(custs("2-HIGH"))
        .select(col("o_custkey"), lit("both").as("set_kind"))
      val onlyFirst = custs("1-URGENT").except(custs("2-HIGH"))
        .select(col("o_custkey"), lit("only_urgent").as("set_kind"))
      both.unionByName(onlyFirst).orderBy(col("set_kind"), col("o_custkey"))
    }),

    // ---- shared-dialect SQL text: ONE SQL string executed verbatim
    // by spark.sql AND by the DuckDB oracle — the spark.sql surface
    // is first-class, and the engines agree on the ANSI core
    // (scalar subquery, HAVING, CASE, date_trunc).
    "x_sql_text" -> ((s, dir) => {
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
        .foreach(t => table(s, dir, t).createOrReplaceTempView(t))
      s.sql(SharedSqlText)
    }),

    // ---- generic data-quality table profile (the Deequ-style column
    // stats pass): one row per column with row/null/distinct counts
    // and lexicographic min/max of the string form — schema-driven, so
    // the same code profiles ANY table. ONE aggregation over ONE scan
    // (Scale.profileTable); the exact-count flavor gates here, the
    // approx (HLL++, Expand-free single-Exchange) flavor is the 100 TB
    // path, plan-asserted in ScaleSpec.
    "x_table_profile" -> ((s, dir) => {
      // Pin the profiled frame to TableProfileCols (shared with the
      // oracle below) so an orders schema change can't silently
      // desynchronize the two sides; the profiler itself stays
      // schema-driven over whatever frame it is handed.
      Scale.profileTable(
          table(s, dir, "orders").select(TableProfileCols.map(col): _*))
        .orderBy(col("col_name"))
    }),

    // ---- Spark 4 VARIANT path for semi-structured data: parse_json →
    // typed variant_get with nested-path/array-index navigation, no
    // schema declared up front (f6 is the schema-ful from_json twin).
    // The nested document is synthesized around the real props value
    // so the path walk ('$.a.b[2]', '$.t') is live under the oracle.
    "x_variant_extract" -> ((s, dir) =>
      ev(s, dir)
        .withColumn("__nested", concat(lit("""{"a":{"b":[1,2,"""),
          regexp_extract(col("props"), "[0-9]+", 0),
          lit("""]},"t":"e"""), pmod(col("event_id"), lit(7)), lit(""""}""")))
        .select(col("event_id"),
          expr("variant_get(parse_json(__nested), '$.a.b[2]', 'int')").as("k"),
          expr("variant_get(parse_json(__nested), '$.t', 'string')").as("tag"),
          expr("variant_get(parse_json(__nested), '$.a.b[0]', 'int')").as("first"))
        .orderBy(col("event_id"))),

    "f7_pdfname_fix" -> ((s, dir) => {
      val raw = when(pmod(col("p_partkey"), lit(3)) === 0, concat(col("p_name"), lit(",pdf")))
        .when(pmod(col("p_partkey"), lit(3)) === 1, col("p_name"))
        .otherwise(concat(col("p_name"), lit(".pdf")))
      prt(s, dir)
        .select(col("p_partkey"), TextFns.fixPdfName(raw).as("fixed"))
        .orderBy(col("p_partkey"))
    }),
    "f10_question_template" -> ((s, dir) => {
      val q = concat(lit("what is the emission of "), col("n_name"), lit("?"))
      nat(s, dir)
        .select(col("n_nationkey"),
          TextFns.templateQuestion(q, lit(2015) + pmod(col("n_nationkey"), lit(5)),
            pmod(col("n_nationkey"), lit(2)) === 0).as("question"))
        .orderBy(col("n_nationkey"))
    }),
    "f11_numeric_cells" -> ((s, dir) => {
      val cells = array(col("p_name"), col("p_size").cast("string"), col("p_brand"),
        lit("12.5"), lit("  42 "), lit("7,5"))
      prt(s, dir)
        .select(col("p_partkey"), TextFns.joinNonNumericCells(cells).as("joined"))
        .orderBy(col("p_partkey"))
    }),
    "f12_html_strip" -> ((s, dir) => {
      val html = when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("<p>"), substring(col("text"), 1, 60), lit("</p><Table>t1</Table>")))
        .otherwise(concat(lit("<div>"), substring(col("text"), 1, 8), lit("</div>")))
      docs(s, dir)
        .select(col("doc_id"),
          TextFns.removeHtmlTags(html).as("stripped"),
          TextFns.containsTable(html).as("has_table"),
          TextFns.isNotShort(TextFns.removeHtmlTags(html), 5).as("not_short"))
        .orderBy(col("doc_id"))
    }),
    "f14_token_slice" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextFns.tokenSlice(col("text"), 5, 10).as("section"))
        .orderBy(col("doc_id"))),

    // ---- M8 QA metrics (EM / set-F1 / relaxed-F1 / answerability) ---------
    "m8_qa_metrics" -> ((s, dir) => {
      // gold span = tokens 5..7; predicted span deterministically right
      // or shifted by one; no-answer predictions and impossibles from
      // DetHash — mirrors qa_metrics.py:8-81 semantics with set-F1
      val toks   = filter(split(col("text"), " "), t => t =!= "")
      val gold   = slice(toks, lit(5), lit(3))
      val shift  = when(DetHash.detUnit(col("doc_id")) < 0.7, lit(5)).otherwise(lit(6))
      val pred   = slice(toks, shift, lit(3))
      val goldNa = (pmod(col("doc_id"), lit(5)) === 0).cast("int")
      val predNa = (DetHash.detUnit(col("doc_id") * 7) < 0.3).cast("int")
      val em      = (array_join(pred, " ") === array_join(gold, " ")).cast("int")
      val pSet    = array_distinct(pred)
      val gSet    = array_distinct(gold)
      val inter   = size(array_intersect(pSet, gSet))
      val f1      = when(size(pSet) + size(gSet) > 0,
        inter * 2.0 / (size(pSet) + size(gSet))).otherwise(lit(0.0))
      val relaxed = (inter > 0).cast("int")
      docs(s, dir)
        .select(col("source"), em.as("em"),
          round(f1 * 10000).cast("long").as("f1s"), relaxed.as("relaxed"),
          goldNa.as("gold_na"), predNa.as("pred_na"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("em")) / count(lit(1)), 4).as("avg_em"),
          round(sum(col("f1s")) / count(lit(1)) / 10000.0, 4).as("avg_f1"),
          round(sum(col("relaxed")) / count(lit(1)), 4).as("avg_relaxed"),
          sum(col("pred_na") * col("gold_na")).as("tp"),
          sum(col("pred_na") * (lit(1) - col("gold_na"))).as("fp"),
          sum((lit(1) - col("pred_na")) * col("gold_na")).as("fn"))
        .orderBy(col("source"))
    }),

    // ---- §2.8 deterministic split -----------------------------------------
    "m5_det_split" -> ((s, dir) =>
      // M5 train/val split, partition-stable (replaces train_test_split;
      // farm_trainer.py:74-77): val iff detUnit(key) < ratio
      ord(s, dir)
        .withColumn("split", when(DetHash.detUnit(col("o_orderkey")) < 0.2, lit("val")).otherwise(lit("train")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), round(sum(dec(col("o_totalprice"))).cast("double"), 2).as("sum_price"))
        .orderBy(col("split")))
  )

  // ------------------------------------------------------------- oracles

  private def u(key: String): String = DetHash.detUnitSql(key)

  val oracleSql: Map[String, String] = Map(
    "x_join_full_outer" ->
      """WITH oc AS (SELECT o_custkey AS custkey, count(*) AS n_orders
        | FROM orders WHERE o_custkey < 800 GROUP BY 1),
        |cust AS (SELECT c_custkey AS custkey, c_acctbal FROM customer
        | WHERE c_custkey >= 400)
        |SELECT coalesce(oc.custkey, cust.custkey) AS custkey,
        | coalesce(oc.n_orders, -1) AS n_orders,
        | coalesce(round(cust.c_acctbal, 2), -1.0) AS acctbal
        |FROM oc FULL OUTER JOIN cust ON oc.custkey = cust.custkey
        |ORDER BY custkey""".stripMargin,
    "x_window_ranks" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        | rank() OVER w AS rnk,
        | dense_rank() OVER w AS drnk,
        | round(percent_rank() OVER w, 6) AS prnk,
        | ntile(4) OVER w AS quartile,
        | round(cume_dist() OVER w, 6) AS cume
        |FROM lineitem WHERE l_partkey < 100
        |WINDOW w AS (PARTITION BY l_returnflag
        | ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC)
        |ORDER BY l_returnflag, rnk""".stripMargin,
    "s1_pdf_roundtrip" ->
      """SELECT 'nations' AS pdf_name, 0 AS page,
        | CAST(row_number() OVER (ORDER BY n_nationkey) - 1 AS INT) AS para_idx,
        | 'nation ' || n_name || ' region ' || n_regionkey || ' body text here' AS paragraph
        |FROM nation
        |UNION ALL
        |SELECT 'nations' AS pdf_name, 1 AS page,
        | CAST(row_number() OVER (ORDER BY n_nationkey) - 1 AS INT) AS para_idx,
        | 'cid appendix ' || n_name || ' region ' || n_regionkey AS paragraph
        |FROM nation
        |ORDER BY page, para_idx""".stripMargin,
    // the encrypted variant must decode to EXACTLY the same table
    "s1_pdf_encrypted" ->
      """SELECT 'nations' AS pdf_name, 0 AS page,
        | CAST(row_number() OVER (ORDER BY n_nationkey) - 1 AS INT) AS para_idx,
        | 'nation ' || n_name || ' region ' || n_regionkey || ' body text here' AS paragraph
        |FROM nation
        |UNION ALL
        |SELECT 'nations' AS pdf_name, 1 AS page,
        | CAST(row_number() OVER (ORDER BY n_nationkey) - 1 AS INT) AS para_idx,
        | 'cid appendix ' || n_name || ' region ' || n_regionkey AS paragraph
        |FROM nation
        |ORDER BY page, para_idx""".stripMargin,
    // the AES-256 variant must decode to EXACTLY the same table too
    "s1_pdf_aes256" ->
      """SELECT 'nations' AS pdf_name, 0 AS page,
        | CAST(row_number() OVER (ORDER BY n_nationkey) - 1 AS INT) AS para_idx,
        | 'nation ' || n_name || ' region ' || n_regionkey || ' body text here' AS paragraph
        |FROM nation
        |UNION ALL
        |SELECT 'nations' AS pdf_name, 1 AS page,
        | CAST(row_number() OVER (ORDER BY n_nationkey) - 1 AS INT) AS para_idx,
        | 'cid appendix ' || n_name || ' region ' || n_regionkey AS paragraph
        |FROM nation
        |ORDER BY page, para_idx""".stripMargin,
    "s4_xlsx_roundtrip" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        | CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    // ORC round-trip must land the identical aggregate
    "s8_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // XML round-trip must land the identical table
    "s12_xml_roundtrip" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        | CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    // replays the fixture rule: every 5th nation line was mangled into
    // the quarantine stream, the rest parse clean
    "s5_csv_quarantine" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS regionkey, count(*) AS n_ok,
        | min(n_name) AS first_name
        |FROM nation WHERE n_nationkey % 5 <> 0 GROUP BY 1
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT) AS regionkey, count(*) AS n_ok,
        | min('not_a_number;' || n_name) AS first_name
        |FROM nation WHERE n_nationkey % 5 = 0
        |ORDER BY regionkey""".stripMargin,
    "a2_sum_groupby" ->
      """SELECT o_orderpriority, round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "a4_boolall_condmax" ->
      """SELECT user_id, max(value) AS max_value, count(*) AS n_events FROM events
        |GROUP BY 1 HAVING bool_and(value < 250) ORDER BY 1""".stripMargin,
    "p5_group_first" ->
      """SELECT user_id, arg_min(event_id, ts) AS first_event_id, arg_max(event_id, ts) AS last_event_id
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "p7_size_filter" ->
      """SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        |FROM documents WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 60
        |ORDER BY doc_id""".stripMargin,
    "w2_argmax" ->
      """SELECT event_type,
        | arg_max(event_id, CAST(round(value * 100) AS BIGINT) * 10000000 + event_id) AS top_event_id,
        | arg_max(value, CAST(round(value * 100) AS BIGINT) * 10000000 + event_id) AS top_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "w3_global_topn_rank" ->
      """SELECT row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey ASC) AS rank,
        | s_suppkey, round(s_acctbal, 2) AS s_acctbal
        |FROM supplier ORDER BY s_acctbal DESC, s_suppkey ASC LIMIT 50""".stripMargin,
    "r3_flatten_tokens" ->
      """SELECT tok AS token, count(*) AS n, min(doc_id) AS first_doc FROM (
        | SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        | FROM documents WHERE doc_id < 100)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "r5_struct_expand" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS net,
        | l_returnflag AS flag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "r6_nest_json" ->
      """SELECT l_orderkey,
        | to_json(list({'ln': l_linenumber, 'qty': CAST(l_quantity AS BIGINT)}
        |   ORDER BY l_linenumber, CAST(l_quantity AS BIGINT))) AS lines_json
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "j5_affinity_join" ->
      """SELECT a.doc_id, f.file FROM
        | (SELECT doc_id, source FROM documents WHERE doc_id < 20) a
        |JOIN (SELECT DISTINCT source || '.json' AS file FROM documents) f
        | ON contains(f.file, a.source)
        |ORDER BY a.doc_id, f.file""".stripMargin,
    "j7_best_match_join" ->
      """SELECT s_suppkey, best_partkey, dist FROM (
        | SELECT s.s_suppkey, p.p_partkey AS best_partkey, levenshtein(s.s_name, p.p_name) AS dist,
        |  row_number() OVER (PARTITION BY s.s_suppkey
        |   ORDER BY levenshtein(s.s_name, p.p_name) ASC, p.p_partkey ASC) AS rn
        | FROM (SELECT * FROM supplier WHERE s_suppkey < 50) s
        | JOIN part p ON p.p_partkey % 10 = s.s_suppkey % 10)
        |WHERE rn = 1 ORDER BY s_suppkey""".stripMargin,
    "f1_clean_text" -> {
      // lookbehind/lookahead rules (Java) are zero-width bracket-context
      // replaces == plain 3-char replaces (RE2-safe)
      val messy = "'[' || chr(8220) || substr(text, 1, 40) || chr(8221) || ']' || chr(10) || '  quoted ' || chr(8220) || 'x' || chr(8221) || chr(9) || 'tail  end'"
      s"""SELECT doc_id, regexp_replace(
         |  regexp_replace(
         |   regexp_replace(
         |    regexp_replace(
         |     replace(replace($messy, '[' || chr(8220), '["'), chr(8221) || ']', '"]'),
         |     chr(8220) || '|' || chr(8221), '', 'g'),
         |    '\\n|\\t', ' ', 'g'),
         |   '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\xff]', '', 'g'),
         |  '\\s{2,}', ' ', 'g') AS cleaned
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "f2_clean_text_kpi" -> {
      val messy = "'(Why?) [' || substr(text, 1, 40) || ']' || chr(10) || 'End... x+y|z{q}$5 ' || chr(8220) || 'ok' || chr(8221)"
      // nesting mirrors TextFns.cleanTextKpi exactly: brackets → strip
      // curly → \n → ctrl-chars → ws collapse → strip specials → lower
      // → drop multi-dots
      s"""SELECT doc_id,
         | regexp_replace(lower(
         |  regexp_replace(
         |   regexp_replace(
         |    regexp_replace(
         |     regexp_replace(
         |      regexp_replace(
         |       replace(replace($messy, '[' || chr(8220), '["'), chr(8221) || ']', '"]'),
         |       chr(8220) || '|' || chr(8221), '', 'g'),
         |      '\\n', ' ', 'g'),
         |     '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\xff]', '', 'g'),
         |    '\\s{2,}', ' ', 'g'),
         |   '[()^+*$$|\\\\?\\[\\]{}]', '', 'g')),
         |  '\\.{2,}', '', 'g') AS cleaned
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "f5_numeric_parse" ->
      """SELECT o_orderkey,
        | CAST(regexp_replace(CAST(o_orderkey AS VARCHAR) || ' ' || CAST(o_custkey AS VARCHAR) || ',75', '[ ,]', '', 'g') AS DOUBLE) AS parsed
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "f6_list_parse" ->
      """WITH src AS (
        | SELECT l_orderkey, l_linenumber,
        |  '[' || CAST(l_orderkey % 5 AS VARCHAR) || ', ' || CAST(l_linenumber AS VARCHAR) || ']' AS pages_raw,
        |  '["para ' || CAST(l_orderkey % 7 AS VARCHAR) || '", "p' || CAST(l_linenumber AS VARCHAR) || '"]' AS para_ok
        | FROM lineitem WHERE l_orderkey < 2000),
        |shaped AS (
        | SELECT l_orderkey, l_linenumber, pages_raw,
        |  CASE WHEN l_orderkey % 4 = 0 THEN '{' || substr(para_ok, 2)
        |       WHEN l_orderkey % 4 = 1 THEN 'nope'
        |       ELSE para_ok END AS para_raw
        | FROM src),
        |repaired AS (
        | SELECT *, CASE
        |   WHEN regexp_matches(para_raw, '^[{\]]')
        |    THEN '[' || substr(para_raw, 2)
        |   WHEN regexp_matches(para_raw, '[}\[]$')
        |    THEN substr(para_raw, 1, length(para_raw) - 1) || ']'
        |   ELSE para_raw END AS para_fix
        | FROM shaped)
        |SELECT l_orderkey, l_linenumber,
        | array_to_string(CASE WHEN regexp_matches(trim(pages_raw), '^\[.*\]$')
        |  THEN list_transform(string_split(regexp_replace(trim(pages_raw), '^\[|\]$', '', 'g'), ','), x -> CAST(CAST(trim(x) AS INT) AS VARCHAR))
        |  ELSE NULL END, ',') AS pages,
        | array_to_string(CASE WHEN regexp_matches(para_fix, '^\[.*\]$')
        |  THEN string_split_regex(substr(para_fix, 3, length(para_fix) - 4), '", "|","')
        |  ELSE NULL END, ',') AS paras
        |FROM repaired ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "f6_props_json" ->
      """SELECT CAST(props->>'$.k' AS INT) AS k, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_set_ops" ->
      """WITH u AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |h AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'),
        |b AS (SELECT o_custkey, 'both' AS set_kind FROM
        |  (SELECT o_custkey FROM u INTERSECT SELECT o_custkey FROM h)),
        |f AS (SELECT o_custkey, 'only_urgent' AS set_kind FROM
        |  (SELECT o_custkey FROM u EXCEPT SELECT o_custkey FROM h))
        |SELECT * FROM b UNION ALL SELECT * FROM f
        |ORDER BY set_kind, o_custkey""".stripMargin,
    "x_sql_text" -> SharedSqlText,
    "x_table_profile" -> {
      // Same TableProfileCols constant as the Spark query above — the
      // two sides cannot drift apart on a schema change.
      TableProfileCols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n,
           | count(*) FILTER (WHERE $c IS NULL) AS n_null,
           | count(DISTINCT $c) AS n_distinct,
           | min(CAST($c AS VARCHAR)) AS min_str,
           | max(CAST($c AS VARCHAR)) AS max_str
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "x_variant_extract" ->
      """WITH n AS (SELECT event_id,
        | '{"a":{"b":[1,2,' || regexp_extract(props, '[0-9]+', 0) || ']},"t":"e'
        |   || (event_id % 7) || '"}' AS nested
        | FROM events)
        |SELECT event_id,
        | CAST(nested->>'$.a.b[2]' AS INT) AS k,
        | nested->>'$.t' AS tag,
        | CAST(nested->>'$.a.b[0]' AS INT) AS first
        |FROM n ORDER BY event_id""".stripMargin,
    "f7_pdfname_fix" ->
      """WITH src AS (
        | SELECT p_partkey, CASE WHEN p_partkey % 3 = 0 THEN p_name || ',pdf'
        |   WHEN p_partkey % 3 = 1 THEN p_name ELSE p_name || '.pdf' END AS raw
        | FROM part),
        |fixed AS (SELECT p_partkey, regexp_replace(raw, ',pdf$', '.pdf') AS fc FROM src)
        |SELECT p_partkey,
        | CASE WHEN regexp_matches(fc, '\.pdf$') THEN fc ELSE fc || '.pdf' END AS fixed
        |FROM fixed ORDER BY p_partkey""".stripMargin,
    "f10_question_template" ->
      """SELECT n_nationkey,
        | CASE WHEN n_nationkey % 2 = 0
        |  THEN split_part('what is the emission of ' || n_name || '?', '?', 1)
        |    || ' in year ' || CAST(2015 + n_nationkey % 5 AS VARCHAR) || '?'
        |  ELSE 'what is the emission of ' || n_name || '?' END AS question
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "f11_numeric_cells" ->
      """SELECT p_partkey,
        | array_to_string(list_filter(
        |   [p_name, CAST(p_size AS VARCHAR), p_brand, '12.5', '  42 ', '7,5'],
        |   c -> NOT regexp_matches(c, '^\W*[0-9]*\W?[0-9]*?\W*$')), ', ') AS joined
        |FROM part ORDER BY p_partkey""".stripMargin,
    "f12_html_strip" ->
      """WITH src AS (
        | SELECT doc_id, CASE WHEN doc_id % 2 = 0
        |   THEN '<p>' || substr(text, 1, 60) || '</p><Table>t1</Table>'
        |   ELSE '<div>' || substr(text, 1, 8) || '</div>' END AS html
        | FROM documents)
        |SELECT doc_id,
        | regexp_replace(html, '<[^>]+>\s?', '', 'g') AS stripped,
        | regexp_matches(html, '<Table>.*</Table>') AS has_table,
        | len(string_split(regexp_replace(html, '<[^>]+>\s?', '', 'g'), ' ')) > 5 AS not_short
        |FROM src ORDER BY doc_id""".stripMargin,
    "f14_token_slice" ->
      """SELECT doc_id,
        | array_to_string(list_slice(string_split(text, ' '), 6, 15), ' ') AS section
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m8_qa_metrics" -> {
      val toks = "list_filter(string_split(text, ' '), x -> x <> '')"
      s"""WITH r AS (
         | SELECT source,
         |  list_slice($toks, 5, 7) AS gold,
         |  list_slice($toks,
         |   CAST(CASE WHEN ${u("doc_id")} < 0.7 THEN 5 ELSE 6 END AS INT),
         |   CAST(CASE WHEN ${u("doc_id")} < 0.7 THEN 7 ELSE 8 END AS INT)) AS pred,
         |  CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS gold_na,
         |  CASE WHEN ${u("doc_id * 7")} < 0.3 THEN 1 ELSE 0 END AS pred_na
         | FROM documents),
         |m AS (
         | SELECT source, gold_na, pred_na,
         |  CASE WHEN array_to_string(pred, ' ') = array_to_string(gold, ' ') THEN 1 ELSE 0 END AS em,
         |  CAST(round(CASE WHEN len(list_distinct(pred)) + len(list_distinct(gold)) > 0
         |   THEN len(list_intersect(list_distinct(pred), list_distinct(gold))) * 2.0
         |     / (len(list_distinct(pred)) + len(list_distinct(gold))) ELSE 0.0 END * 10000) AS BIGINT) AS f1s,
         |  CASE WHEN len(list_intersect(list_distinct(pred), list_distinct(gold))) > 0 THEN 1 ELSE 0 END AS relaxed
         | FROM r)
         |SELECT source, count(*) AS n,
         | round(sum(em) * 1.0 / count(*), 4) AS avg_em,
         | round(sum(f1s) * 1.0 / count(*) / 10000.0, 4) AS avg_f1,
         | round(sum(relaxed) * 1.0 / count(*), 4) AS avg_relaxed,
         | CAST(sum(pred_na * gold_na) AS BIGINT) AS tp,
         | CAST(sum(pred_na * (1 - gold_na)) AS BIGINT) AS fp,
         | CAST(sum((1 - pred_na) * gold_na) AS BIGINT) AS fn
         |FROM m GROUP BY source ORDER BY source""".stripMargin
    },
    "m5_det_split" ->
      s"""SELECT CASE WHEN ${u("o_orderkey")} < 0.2 THEN 'val' ELSE 'train' END AS split,
         | count(*) AS n, round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
  )
}

package graft.sources

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.Inflater

import scala.collection.mutable
import scala.util.matching.Regex

/** JDK-only PDF text extractor for the "simple PDF" subset: documents
  * with a standard page tree, content streams stored raw or
  * FlateDecode-compressed (`java.util.zip.Inflater`), and text drawn
  * with the standard `BT…ET` operators (`Tj`, `'`, `"`, `TJ`) using
  * either simple (byte-per-char, Latin-1-compatible) font encodings —
  * the output of most programmatic generators — or CID/Type0 fonts
  * with `/Encoding /Identity-H` and a `/ToUnicode` CMap, the layout
  * production writers (Word, InDesign, LaTeX+TTF) actually emit: the
  * reference's own 144-PDF ESG corpus is overwhelmingly CID-font
  * (pdf_text_extractor.py:54-117 via pdfminer). Per page, the
  * `/Resources → /Font` table is resolved, `Tf` switches the active
  * font, and strings under an Identity-H font decode as 2-byte CIDs
  * through the font's ToUnicode `bfchar`/`bfrange` mappings. No
  * external codec: the container ships no pdfbox, so this closes the
  * S1 gap the same way [[XlsxSource]] closed S4 (zip+StAX), with a
  * documented subset instead of a stub.
  *
  * Standard-security ENCRYPTED documents (the standard security
  * handler most password-less ESG reports ship with, empty user
  * password) decrypt transparently across BOTH generations: legacy
  * V 1/2/4 R 2–4 (RC4-40/128, AES-128 — file key per ISO 32000-1
  * Algorithm 2 from /Encrypt + /ID, per-object keys per Algorithm 1)
  * and modern V 5 R 5/6 (AES-256 AESV3, ISO 32000-2 / Acrobat X+ —
  * /U validated by the SHA-2 hash chain incl. the R6 hardened 2.B
  * rounds, file key unwrapped from /UE, every object under the file
  * key). RC4 is hand-rolled, AES via JDK crypto. A non-empty user
  * password or an unsupported handler yields no text — counted,
  * never garbage.
  *
  * PDF 1.5+ OBJECT STREAMS (`/ObjStm`) expand transparently: objects
  * packed into compressed streams — where every modern writer puts
  * its page/font dicts — are carved out after decryption and join
  * the object table, so the linear scan sees post-2005 files whole.
  *
  * Out of scope (falls back to skipping the content, never throwing):
  * non-empty user passwords, public-key (PKCS#7) security handlers,
  * DCT/CCITT
  * filters and LZW with EarlyChange 0 (the default EarlyChange 1
  * decodes natively), CID fonts WITHOUT a usable ToUnicode CMap
  * (their codes decode to nothing rather than mojibake);
  * cross-reference streams carry no needed information (objects are
  * discovered by linear scan + ObjStm expansion, so `XRef`
  * tables/streams are ignored entirely).
  *
  * Reference behavior being replaced:
  * src/components/preprocessing/pdf_text_extractor.py:104-117 (pdf →
  * per-page text via pdf2python/pdfminer); paragraph splitting and the
  * min-alpha filter live downstream in
  * [[PdfSource.readPdfParagraphs]], unchanged.
  *
  * Line model: `Td`/`TD`/`T*`/`'`/`"` each start a new output line, so
  * a generator that moves the cursor twice without drawing produces
  * the blank line (`\n\n`) the downstream paragraph split keys on —
  * the same convention text strippers use.
  */
final class SimplePdfExtractor extends PdfSource.PdfTextExtractor {
  import SimplePdfExtractor._

  def extractPages(fileName: String, bytes: Array[Byte]): Seq[String] = {
    if (bytes == null || bytes.length == 0) return Nil
    try {
      val raw   = new String(bytes, ISO_8859_1)
      val objs  = expandObjectStreams(decryptObjects(raw, parseObjects(raw)))
      val byNum = objs.map(o => o.num -> o).toMap
      val pages = pageSpecs(objs, byNum) match {
        case specs if specs.nonEmpty =>
          specs.map { case (refs, fonts) =>
            refs.flatMap(byNum.get).flatMap(o => decodedStream(o, byNum))
              .map(extractText(_, fonts)).filter(_.nonEmpty).mkString("\n")
          }
        case _ =>
          // no page tree (fragment / exotic writer): every text-bearing
          // content stream becomes a page, in file order
          objs.flatMap(o => decodedStream(o, byNum)).filter(_.contains("BT")).map(extractText(_))
      }
      pages.map(_.trim).filter(_.nonEmpty)
    } catch {
      case scala.util.control.NonFatal(_) => Nil // corrupt file → skip, like the reference
    }
  }
}

object SimplePdfExtractor {

  private case class PdfObj(num: Int, gen: Int, dict: String, stream: Option[Array[Byte]])

  private val ObjStart: Regex    = """(\d+)\s+(\d+)\s+obj""".r
  private val ContentsOne: Regex = """/Contents\s+(\d+)\s+\d+\s+R""".r
  private val ContentsArr: Regex = """/Contents\s*\[([^\]]*)\]""".r
  private val RefInArr: Regex    = """(\d+)\s+\d+\s+R""".r

  /** Linear object scan (no xref needed): `N G obj … endobj`, with the
    * raw stream payload carved out between `stream`/`endstream`.
    */
  private def parseObjects(raw: String): Vector[PdfObj] = {
    val out = Vector.newBuilder[PdfObj]
    for (m <- ObjStart.findAllMatchIn(raw)) {
      val bodyStart = m.end
      val endObj    = raw.indexOf("endobj", bodyStart)
      if (endObj >= 0) {
        val body      = raw.substring(bodyStart, endObj)
        val streamIdx = body.indexOf("stream")
        if (streamIdx >= 0) {
          val dict = body.substring(0, streamIdx)
          var s    = streamIdx + "stream".length
          if (s < body.length && body.charAt(s) == '\r') s += 1
          if (s < body.length && body.charAt(s) == '\n') s += 1
          val endStream = body.lastIndexOf("endstream")
          if (endStream > s) {
            // Prefer the dict's declared direct /Length: binary payloads
            // (ciphertext especially) legitimately END in 0x0A/0x0D, and
            // the EOL-strip heuristic below would eat that real byte.
            // \d++ is POSSESSIVE: '/Length 50 0 R' (indirect ref) must
            // not backtrack into '5' to satisfy the lookahead.
            val declared = """/Length\s+(\d++)(?!\s+\d+\s+R)""".r
              .findFirstMatchIn(dict).map(_.group(1).toInt)
            val e = declared match {
              case Some(l) if l >= 0 && s + l <= endStream => s + l
              case _ =>
                var e0 = endStream
                // trailing EOL before endstream is not part of the data
                if (e0 > s && body.charAt(e0 - 1) == '\n') e0 -= 1
                if (e0 > s && body.charAt(e0 - 1) == '\r') e0 -= 1
                e0
            }
            out += PdfObj(m.group(1).toInt, m.group(2).toInt, dict,
              Some(body.substring(s, e).getBytes(ISO_8859_1)))
          } else out += PdfObj(m.group(1).toInt, m.group(2).toInt, dict, None)
        } else out += PdfObj(m.group(1).toInt, m.group(2).toInt, body, None)
      }
    }
    out.result()
  }

  // ------------------------------------------------------------------
  // Standard security handler (ISO 32000-1 §7.6.3): transparent
  // decryption for the empty user password — what pdfminer does for
  // the reference (pdf_text_extractor.py:54-117 passes password="").
  // ------------------------------------------------------------------

  /** The 32-byte password pad from the spec (Algorithm 2 step a). */
  private val PwPad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01,
    0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53,
    0x69, 0x7A).map(_.toByte)

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(md.update)
    md.digest()
  }

  /** Algorithm 2 file-encryption key for the EMPTY user password:
    * MD5(pad ‖ O ‖ P-as-LE-int32 ‖ ID₀ [‖ FFFFFFFF if R≥4 and metadata
    * unencrypted]), then 50 re-digest rounds of the first n bytes for
    * R≥3. n = Length/8 (5 for R2).
    */
  private[graft] def fileKey(
      o: Array[Byte],
      p: Int,
      id0: Array[Byte],
      r: Int,
      lengthBits: Int,
      encryptMetadata: Boolean
  ): Array[Byte] = {
    val pLe = Array((p & 0xff).toByte, ((p >> 8) & 0xff).toByte,
      ((p >> 16) & 0xff).toByte, ((p >> 24) & 0xff).toByte)
    val tail =
      if (r >= 4 && !encryptMetadata) Array(0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte)
      else Array.emptyByteArray
    val n = if (r == 2) 5 else math.max(5, lengthBits / 8)
    var h = md5(PwPad, o.take(32), pLe, id0, tail)
    if (r >= 3) for (_ <- 0 until 50) h = md5(h.take(n))
    h.take(n)
  }

  /** Algorithm 1 per-object key: MD5(fileKey ‖ num-LE24 ‖ gen-LE16
    * [‖ "sAlT" for AESV2]), truncated to min(n+5, 16).
    */
  private[graft] def objectKey(key: Array[Byte], num: Int, gen: Int, aes: Boolean): Array[Byte] = {
    val ng = Array((num & 0xff).toByte, ((num >> 8) & 0xff).toByte, ((num >> 16) & 0xff).toByte,
      (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte)
    val salt = if (aes) Array(0x73.toByte, 0x41.toByte, 0x6c.toByte, 0x54.toByte)
               else Array.emptyByteArray
    md5(key, ng, salt).take(math.min(key.length + 5, 16))
  }

  /** Plain RC4 (spec Algorithm 1 cipher for V<4 and the /V2 crypt
    * filter) — 30 lines beats a JCE provider lookup on the hot
    * executor path.
    */
  private[graft] def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(_.toByte)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + s(i) + key(i % key.length)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var x = 0
    var y = 0
    var k = 0
    while (k < data.length) {
      x = (x + 1) & 0xff
      y = (y + s(x)) & 0xff
      val t = s(x); s(x) = s(y); s(y) = t
      out(k) = (data(k) ^ s((s(x) + s(y)) & 0xff)).toByte
      k += 1
    }
    out
  }

  /** ISO 32000-2 §7.6.4.3.4 Algorithm 2.B hardened hash (R6), or the
    * plain SHA-256(pw ‖ salt ‖ udata) it supersedes (R5 / Adobe
    * Extension Level 3). Empty user password throughout (the
    * transparent-open corpus case): each round AES-128-CBC-encrypts
    * 64 copies of (K ‖ udata) under K's halves, picks SHA-256/384/512
    * by the first block's byte sum mod 3, and stops once round ≥ 64
    * and the last byte permits.
    */
  private[graft] def hash2b(r: Int, salt: Array[Byte], udata: Array[Byte]): Array[Byte] = {
    def sha(alg: String, b: Array[Byte]) =
      java.security.MessageDigest.getInstance(alg).digest(b)
    var k = sha("SHA-256", salt ++ udata)
    if (r == 5) k
    else {
      var i    = 0
      var done = false
      while (!done) {
        val block = k ++ udata
        val k1    = new Array[Byte](block.length * 64)
        var j     = 0
        while (j < 64) { System.arraycopy(block, 0, k1, j * block.length, block.length); j += 1 }
        val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
        c.init(javax.crypto.Cipher.ENCRYPT_MODE,
          new javax.crypto.spec.SecretKeySpec(k.take(16), "AES"),
          new javax.crypto.spec.IvParameterSpec(k.slice(16, 32)))
        val e   = c.doFinal(k1)
        val mod = e.take(16).map(_ & 0xff).sum % 3
        k = sha(Seq("SHA-256", "SHA-384", "SHA-512")(mod), e)
        i += 1
        if (i >= 64 && (e.last & 0xff) <= i - 32) done = true
      }
      k.take(32)
    }
  }

  /** V5 (AES-256) file key under the empty user password: validate
    * hash(vs) against /U[0..32), then unwrap /UE with hash(ks) —
    * AES-256-CBC, zero IV, no padding (Algorithms 2.A / 8.A). None on
    * any mismatch → the caller degrades to skipped streams.
    */
  private[graft] def v5FileKey(u: Array[Byte], ue: Array[Byte], r: Int): Option[Array[Byte]] = {
    if (u.length < 48 || ue.length < 32) None
    else {
      val vs = u.slice(32, 40)
      val ks = u.slice(40, 48)
      if (!hash2b(r, vs, Array.emptyByteArray).sameElements(u.take(32))) None
      else
        try {
          val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
          c.init(javax.crypto.Cipher.DECRYPT_MODE,
            new javax.crypto.spec.SecretKeySpec(hash2b(r, ks, Array.emptyByteArray), "AES"),
            new javax.crypto.spec.IvParameterSpec(new Array[Byte](16)))
          Some(c.doFinal(ue.take(32)))
        } catch { case _: Exception => None }
    }
  }

  /** AESV2/AESV3 stream: leading 16-byte IV, AES-CBC body (128- or
    * 256-bit key), PKCS#7 padding. Malformed length/padding → None
    * (skip, don't throw).
    */
  private def aesCbcDecrypt(key: Array[Byte], data: Array[Byte]): Option[Array[Byte]] = {
    if (data.length < 32 || data.length % 16 != 0) return None
    try {
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.DECRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key, "AES"),
        new javax.crypto.spec.IvParameterSpec(data.take(16)))
      val plain = c.doFinal(data.drop(16))
      val pad   = plain.last & 0xff
      if (pad >= 1 && pad <= 16 && pad <= plain.length) Some(plain.dropRight(pad)) else None
    } catch { case _: Exception => None }
  }

  /** A byte-string dict entry (`/O`, `/U`): literal `(…)` (PDF escapes
    * apply) or hex `<…>` form, as raw bytes.
    */
  private def stringValue(dict: String, key: String): Option[Array[Byte]] = {
    val keyRe = (java.util.regex.Pattern.quote(key) + "(?![A-Za-z0-9])").r
    keyRe.findAllMatchIn(dict).flatMap { km =>
      var i = km.end
      while (i < dict.length && dict.charAt(i).isWhitespace) i += 1
      if (i < dict.length && dict.charAt(i) == '(')
        Some(parseLiteralString(dict, i)._1.toCharArray.map(_.toByte))
      else if (i < dict.length && dict.charAt(i) == '<' && !dict.startsWith("<<", i))
        Some(parseHexString(dict, i)._1.toCharArray.map(_.toByte))
      else None
    }.nextOption()
  }

  private def intValue(dict: String, key: String): Option[Int] =
    (java.util.regex.Pattern.quote(key) + """\s+(-?\d+)""").r
      .findFirstMatchIn(dict).map(_.group(1).toInt)

  /** The dict with every NESTED `<<…>>` body blanked out, so regex
    * lookups can't anchor inside a sub-dictionary — e.g. the crypt
    * filter's `/CF << /StdCF << /Length 16 >> >>` (bytes!) must never
    * shadow the encrypt dict's own `/Length 128` (bits).
    */
  private def topLevelOf(dict: String): String = {
    val sb    = new java.lang.StringBuilder(dict.length)
    var depth = 0
    var i     = 0
    def emitRange(end: Int): Unit =
      while (i < end && i < dict.length) { sb.append(if (depth > 1) ' ' else dict.charAt(i)); i += 1 }
    while (i < dict.length) {
      val c = dict.charAt(i)
      if (dict.startsWith("<<", i)) { depth += 1; sb.append(if (depth > 1) "  " else "<<"); i += 2 }
      else if (dict.startsWith(">>", i)) { sb.append(if (depth > 1) "  " else ">>"); depth -= 1; i += 2 }
      else if (c == '(')
        // literal string: random /O-/U bytes legitimately contain '<<'
        // or '>>' pairs — they must not corrupt the depth tracking
        emitRange(parseLiteralString(dict, i)._2)
      else if (c == '<') { // hex string ('<<' handled above)
        val close = dict.indexOf('>', i + 1)
        emitRange(if (close < 0) dict.length else close + 1)
      } else { sb.append(if (depth > 1) ' ' else c); i += 1 }
    }
    sb.toString
  }

  private val EncryptRef: Regex = """/Encrypt\s+(\d+)\s+\d+\s+R""".r

  /** Trailer /ID first element — hex `<…>` OR literal `(…)` form
    * (both legal; real writers emit both). Last occurrence wins
    * (incremental updates append trailers).
    */
  private def fileIdOf(raw: String): Option[Array[Byte]] =
    """/ID\s*\[""".r.findAllMatchIn(raw).flatMap { m =>
      var i = m.end
      while (i < raw.length && raw.charAt(i).isWhitespace) i += 1
      if (i < raw.length && raw.charAt(i) == '<')
        Some(parseHexString(raw, i)._1.toCharArray.map(_.toByte))
      else if (i < raw.length && raw.charAt(i) == '(')
        Some(parseLiteralString(raw, i)._1.toCharArray.map(_.toByte))
      else None
    }.toSeq.lastOption

  /** Algorithm 4 (R2) / 5 (R≥3): the /U entry the empty user password
    * produces under `key`. R≥3 compares on the first 16 bytes (the
    * stored tail is arbitrary padding).
    */
  private[graft] def userEntry(key: Array[Byte], id0: Array[Byte], r: Int): Array[Byte] =
    if (r == 2) rc4(key, PwPad)
    else {
      var u = rc4(key, md5(PwPad, id0))
      for (i <- 1 until 20) u = rc4(key.map(b => (b ^ i).toByte), u)
      u
    }

  /** The stream cipher the encrypt dict selects for STREAMS: V<4 is
    * always RC4; V4 resolves /StmF → named crypt filter → /CFM
    * (AESV2, V2=RC4, None/Identity = not encrypted). Substring
    * matching on the whole dict would mis-cipher mixed-filter files.
    */
  private sealed trait StreamCipher
  private case object CipherRc4 extends StreamCipher
  private case object CipherAes extends StreamCipher
  private case object CipherNone extends StreamCipher

  private def streamCipherOf(d: String, top: String, v: Int, byNum: Map[Int, PdfObj]): Option[StreamCipher] =
    if (v < 4) Some(CipherRc4)
    else {
      val stmf = """/StmF\s*/([A-Za-z0-9]+)""".r.findFirstMatchIn(top).map(_.group(1))
        .getOrElse("Identity") // spec default: streams not encrypted
      if (stmf == "Identity") Some(CipherNone)
      else
        dictValue(d, "/CF", byNum).flatMap(cf => dictValue(cf, "/" + stmf, byNum)) match {
          case Some(f) if """/CFM\s*/AESV3(?![A-Za-z0-9])""".r.findFirstIn(f).isDefined => Some(CipherAes)
          case Some(f) if """/CFM\s*/AESV2(?![A-Za-z0-9])""".r.findFirstIn(f).isDefined => Some(CipherAes)
          case Some(f) if """/CFM\s*/V2(?![A-Za-z0-9])""".r.findFirstIn(f).isDefined    => Some(CipherRc4)
          case Some(f) if """/CFM\s*/None(?![A-Za-z0-9])""".r.findFirstIn(f).isDefined  => Some(CipherNone)
          case _ => None // unknown/missing crypt filter: unsupported
        }
    }

  /** If the trailer names a standard-security /Encrypt dict this
    * handler supports (V 1/2/4 R 2–4 with RC4/AESV2, or V 5 R 5/6
    * with AES-256 AESV3), decrypt every object's stream under the
    * empty-user-password file key. The derived key is VERIFIED first
    * — against the stored /U (Algorithm 4/5) for the legacy handlers,
    * via the /U hash self-check (Algorithm 2.A/2.B) for V5: a wrong password or tampered dict fails verification and
    * degrades to skipped streams — never mojibake, never a throw —
    * which also covers raw (unfiltered) streams where garbage
    * plaintext would otherwise flow straight into extraction. All
    * numeric/name entries parse from the TOP-LEVEL dict only (the
    * crypt-filter sub-dict carries its own /Length in BYTES). The
    * /Encrypt dict's own strings are plaintext by spec; XRef/metadata
    * streams decrypt to garbage we never consume.
    */
  private def decryptObjects(raw: String, objs: Vector[PdfObj]): Vector[PdfObj] = {
    val byNum = objs.map(o => o.num -> o).toMap
    val enc = EncryptRef.findAllMatchIn(raw).map(_.group(1).toInt).toSeq.lastOption
      .flatMap(byNum.get)
    enc match {
      case None => objs
      case Some(e) =>
        val d   = e.dict
        val top = topLevelOf(d)
        (for {
          v <- intValue(top, "/V") if v == 1 || v == 2 || v == 4 || v == 5
          r <- intValue(top, "/R") if (v == 5 && (r == 5 || r == 6)) || (v < 5 && r >= 2 && r <= 4)
          _ <- Option.when(top.contains("/Standard"))(())
          cipher <- streamCipherOf(d, top, v, byNum)
          key <-
            if (v == 5)
              // AES-256 (R5/R6): /U self-validates, /UE wraps the key
              for {
                u  <- stringValue(top, "/U") if u.length >= 48
                ue <- stringValue(top, "/UE")
                k  <- v5FileKey(u, ue, r)
              } yield k
            else
              for {
                o  <- stringValue(top, "/O") if o.length >= 32
                u  <- stringValue(top, "/U") if u.length >= 16
                p  <- intValue(top, "/P")
                id <- fileIdOf(raw)
                lengthBits = intValue(top, "/Length").getOrElse(if (v == 4) 128 else 40)
                k = fileKey(o, p, id, r, lengthBits,
                  encryptMetadata = """/EncryptMetadata\s+false""".r.findFirstIn(top).isEmpty)
                expectU  = userEntry(k, id, r)
                checkLen = if (r == 2) 32 else 16
                _ <- Option.when(u.take(checkLen).sameElements(expectU.take(checkLen)))(())
              } yield k
        } yield cipher match {
          case CipherNone => objs
          case _ =>
            objs.map { obj =>
              obj.stream match {
                case Some(data) if obj.num != e.num =>
                  // V5: the FILE key encrypts every object (no
                  // per-object MD5 derivation — ISO 32000-2 drops it)
                  val ok =
                    if (v == 5) key
                    else objectKey(key, obj.num, obj.gen, aes = cipher == CipherAes)
                  val dec =
                    if (cipher == CipherAes) aesCbcDecrypt(ok, data) else Some(rc4(ok, data))
                  obj.copy(stream = dec)
                case _ => obj
              }
            }
        }).getOrElse(objs.map(o => o.copy(stream = None))) // unsupported/unverified: no garbage text
    }
  }

  /** PDF 1.5+ object streams (`/Type /ObjStm`, ISO 32000-1 §7.5.7):
    * modern writers pack their small dict objects (pages, fonts,
    * catalogs) into a compressed stream whose header lists `N`
    * (objnum, offset) integer pairs before `/First`, bodies following
    * at `First + offset`. A linear top-level scan alone would MISS
    * every object stored this way — most post-2005 PDFs — so each
    * decoded ObjStm is expanded into ordinary [[PdfObj]]s (gen 0, no
    * nested streams per spec). Runs AFTER decryption (the ObjStm
    * stream itself is encrypted; its embedded objects are not
    * re-encrypted). Top-level objects win numbering collisions —
    * a file carrying both forms is usually an incremental update
    * whose appended top-level objects supersede packed ones.
    */
  private def expandObjectStreams(objs: Vector[PdfObj]): Vector[PdfObj] = {
    val have = objs.map(_.num).toSet
    val embedded = objs
      .filter(o => """/Type\s*/ObjStm(?![A-Za-z])""".r.findFirstIn(o.dict).isDefined)
      .flatMap { o =>
        (for {
          n     <- """/N\s+(\d+)""".r.findFirstMatchIn(o.dict).map(_.group(1).toInt)
          first <- """/First\s+(\d+)""".r.findFirstMatchIn(o.dict).map(_.group(1).toInt)
          text  <- decodedStream(o, objs.map(x => x.num -> x).toMap)
          if first <= text.length
        } yield {
          val pairs = """\d+""".r.findAllIn(text.substring(0, first)).map(_.toInt)
            .grouped(2).collect { case Seq(a, b) => (a, b) }.take(n).toVector
          pairs.zipWithIndex.map { case ((num, off), i) =>
            val start = math.min(first + off, text.length)
            val end =
              if (i + 1 < pairs.length) math.min(math.max(first + pairs(i + 1)._2, start), text.length)
              else text.length
            PdfObj(num, 0, text.substring(start, end), None)
          }
        }).getOrElse(Vector.empty)
      }
    objs ++ embedded.filterNot(e => have(e.num))
  }

  /** `/Type /Page` objects in file order → (content-stream object
    * numbers, font-name → CID-to-Unicode map for the page's Type0
    * fonts). Simple fonts get no entry and decode byte-per-char.
    */
  private def pageSpecs(
      objs: Vector[PdfObj],
      byNum: Map[Int, PdfObj]
  ): Vector[(Vector[Int], Map[String, Map[Int, String]])] =
    objs.filter(o => """/Type\s*/Page(?![a-zA-Z])""".r.findFirstIn(o.dict).isDefined)
      .map { o =>
        val refs = ContentsArr.findFirstMatchIn(o.dict) match {
          case Some(arr) => RefInArr.findAllMatchIn(arr.group(1)).map(_.group(1).toInt).toVector
          case None      => ContentsOne.findFirstMatchIn(o.dict).map(_.group(1).toInt).toVector
        }
        (refs, pageFonts(o.dict, byNum))
      }
      .filter(_._1.nonEmpty)

  /** Resolve `key` in `dict` to a dictionary BODY: either the inline
    * balanced `<<…>>` that follows the key, or the dict of the object
    * an `N 0 R` reference points at.
    */
  private def dictValue(dict: String, key: String, byNum: Map[Int, PdfObj]): Option[String] = {
    // PDF names end at a delimiter, so '/Font' must not match inside
    // '/FontFile' or '/FontDescriptor'; and a boundary-correct hit can
    // still sit inside an unrelated nested value, so scan every
    // occurrence until one parses as an inline dict or an `N 0 R` ref.
    val keyRe = (java.util.regex.Pattern.quote(key) + "(?![A-Za-z0-9])").r
    keyRe.findAllMatchIn(dict).flatMap { km =>
      var i = km.end
      while (i < dict.length && dict.charAt(i).isWhitespace) i += 1
      if (dict.startsWith("<<", i)) {
        var depth               = 0
        var j                   = i
        var res: Option[String] = None
        while (j < dict.length && res.isEmpty) {
          if (dict.startsWith("<<", j)) { depth += 1; j += 2 }
          else if (dict.startsWith(">>", j)) {
            depth -= 1; j += 2
            if (depth == 0) res = Some(dict.substring(i + 2, j - 2))
          } else j += 1
        }
        res
      } else
        """^(\d+)\s+\d+\s+R""".r.findFirstMatchIn(dict.substring(i))
          .flatMap(m => byNum.get(m.group(1).toInt)).map(_.dict)
    }.nextOption()
  }

  /** The page's `/Resources → /Font` table: every Type0 font maps to
    * its ToUnicode CMap (name → code → unicode), or to the EMPTY map
    * when the CMap is absent/unparseable — its strings then skip,
    * never mojibake (byte-per-char decoding of 2-byte CIDs would
    * poison the corpus with NUL-interleaved garbage). Simple fonts get
    * no entry and decode byte-per-char.
    */
  private def pageFonts(pageDict: String, byNum: Map[Int, PdfObj]): Map[String, Map[Int, String]] =
    (for {
      res  <- dictValue(pageDict, "/Resources", byNum).toSeq
      fdic <- dictValue(res, "/Font", byNum).toSeq
      m    <- """/(\w+)\s+(\d+)\s+\d+\s+R""".r.findAllMatchIn(fdic)
      font <- byNum.get(m.group(2).toInt)
      if """/Subtype\s*/Type0(?![a-zA-Z])""".r.findFirstIn(font.dict).isDefined
    } yield m.group(1) -> toUnicodeMap(font.dict, byNum).getOrElse(Map.empty)).toMap

  /** Follow `/ToUnicode N 0 R` to its (possibly Flate-compressed) CMap
    * stream and parse the `bfchar`/`bfrange` sections.
    */
  private def toUnicodeMap(fontDict: String, byNum: Map[Int, PdfObj]): Option[Map[Int, String]] =
    for {
      m    <- """/ToUnicode\s+(\d+)\s+\d+\s+R""".r.findFirstMatchIn(fontDict)
      obj  <- byNum.get(m.group(1).toInt)
      text <- decodedStream(obj, byNum)
      cm = parseCMap(text) if cm.nonEmpty
    } yield cm

  private val BfChar: Regex  = """(?s)beginbfchar(.*?)endbfchar""".r
  private val BfRange: Regex = """(?s)beginbfrange(.*?)endbfrange""".r
  private val CharPair: Regex = """<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>""".r
  private val RangeEntry: Regex =
    """<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(?:<([0-9A-Fa-f]+)>|\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\])""".r

  /** UTF-16BE hex → string (4-digit units; a bare 2-digit value is one
    * char — both appear in real CMaps).
    */
  private def utf16Hex(hex: String): String =
    if (hex.length % 4 == 0)
      hex.grouped(4).map(h => Integer.parseInt(h, 16).toChar).mkString
    else if (hex.length == 2) Integer.parseInt(hex, 16).toChar.toString
    else ""

  /** `bfchar` pairs + `bfrange` entries (continuous `<lo> <hi> <dst>`
    * form increments the LAST UTF-16 unit per the CMap spec; the array
    * form lists one dst per code) → code → unicode map.
    */
  private[graft] def parseCMap(text: String): Map[Int, String] = {
    val out = Map.newBuilder[Int, String]
    for (block <- BfChar.findAllMatchIn(text); p <- CharPair.findAllMatchIn(block.group(1)))
      out += Integer.parseInt(p.group(1), 16) -> utf16Hex(p.group(2))
    for (block <- BfRange.findAllMatchIn(text); e <- RangeEntry.findAllMatchIn(block.group(1))) {
      val lo = Integer.parseInt(e.group(1), 16)
      val hi = Integer.parseInt(e.group(2), 16)
      if (hi >= lo && hi - lo < 65536) {
        if (e.group(3) != null) {
          val dst = utf16Hex(e.group(3))
          if (dst.nonEmpty) {
            val head = dst.dropRight(1)
            val last = dst.last.toInt
            for (code <- lo to hi) out += code -> (head + (last + code - lo).toChar)
          }
        } else {
          val dsts = """<([0-9A-Fa-f]+)>""".r.findAllMatchIn(e.group(4)).map(_.group(1)).toVector
          for ((code, k) <- (lo to hi).zipWithIndex if k < dsts.length)
            out += code -> utf16Hex(dsts(k))
        }
      }
    }
    out.result()
  }

  /** The stream dict's /Filter as a name list: single name, array
    * form, or empty when the key is absent; None when the value is an
    * indirect reference or unparseable (treat as unsupported).
    */
  private def filterNamesOf(dict: String): Option[Vector[String]] = {
    val top = topLevelOf(dict)
    """/Filter(?![A-Za-z0-9])""".r.findFirstMatchIn(top) match {
      case None => Some(Vector.empty)
      case Some(m) =>
        var i = m.end
        while (i < top.length && top.charAt(i).isWhitespace) i += 1
        if (i < top.length && top.charAt(i) == '[') {
          val close = top.indexOf(']', i)
          val body  = if (close < 0) top.substring(i + 1) else top.substring(i + 1, close)
          Some("""/([A-Za-z0-9]+)""".r.findAllMatchIn(body).map(_.group(1)).toVector)
        } else if (i < top.length && top.charAt(i) == '/')
          Some("""/([A-Za-z0-9]+)""".r.findFirstMatchIn(top.substring(i)).map(_.group(1)).toVector)
        else None
    }
  }

  /** EarlyChange 0 detection, following an indirect /DecodeParms. */
  private def earlyChangeZero(dict: String, byNum: Map[Int, PdfObj]): Boolean =
    """/EarlyChange\s+0(?![0-9])""".r.findFirstIn(dict).isDefined ||
      """/DecodeParms\s+(\d+)\s+\d+\s+R""".r.findFirstMatchIn(dict)
        .flatMap(m => byNum.get(m.group(1).toInt))
        .exists(p => """/EarlyChange\s+0(?![0-9])""".r.findFirstIn(p.dict).isDefined)

  /** Stream payload, FlateDecode-inflated or LZWDecode-expanded when
    * the filter says so. Filter CHAINS (e.g. [/ASCII85Decode
    * /LZWDecode]) and unsupported/indirect filters yield None — a
    * substring match would feed un-85-decoded text to the LZW table
    * and emit mojibake.
    */
  private def decodedStream(o: PdfObj, byNum: Map[Int, PdfObj]): Option[String] =
    o.stream.flatMap { data =>
      filterNamesOf(o.dict) match {
        case Some(Vector()) => Some(new String(data, ISO_8859_1))
        case Some(Vector("FlateDecode")) => inflate(data).map(b => new String(b, ISO_8859_1))
        case Some(Vector("LZWDecode")) =>
          // EarlyChange 0 shifts every width bump one code later; rare
          // (default is 1) and a mis-width read would emit garbage
          if (earlyChangeZero(o.dict, byNum)) None
          else lzwDecode(data).map(b => new String(b, ISO_8859_1))
        case _ => None
      }
    }

  /** PDF/TIFF LZW with the default EarlyChange=1 width rule: the code
    * width is chosen from the decoder's table size BEFORE each read
    * (<511 → 9 bits, <1023 → 10, <2047 → 11, else 12). 256 clears,
    * 257 ends; the `code == table.size` case is the classic KwKwK
    * self-reference. Validated against the independent python
    * encoder/decoder pair in scripts/make_lzw_pdf.py. Malformed input
    * yields None (skip, never partial-garbage).
    */
  private def lzwDecode(data: Array[Byte]): Option[Array[Byte]] = try {
    val out   = new java.io.ByteArrayOutputStream(data.length * 4)
    var table = mutable.ArrayBuffer.empty[Array[Byte]]
    def resetTable(): Unit = {
      table = mutable.ArrayBuffer.tabulate(258)(i => if (i < 256) Array(i.toByte) else null)
    }
    resetTable()
    var prev: Array[Byte] = null
    var bitbuf = 0L
    var nbits  = 0
    var pos    = 0
    while (true) {
      val width = if (table.length < 511) 9 else if (table.length < 1023) 10
                  else if (table.length < 2047) 11 else 12
      while (nbits < width) {
        // exhausted without EOD = truncated (the spec requires the EOD
        // marker): NONE, never the decoded prefix — silently-partial
        // page text is the poisoning mode inflate() also guards against
        if (pos >= data.length) return None
        bitbuf = (bitbuf << 8) | (data(pos) & 0xff)
        nbits += 8
        pos += 1
      }
      val code = ((bitbuf >> (nbits - width)) & ((1L << width) - 1)).toInt
      nbits -= width
      if (code == 256) { resetTable(); prev = null }
      else if (code == 257) return Some(out.toByteArray)
      else if (prev == null) {
        if (code > 255) return None
        val x = table(code)
        out.write(x)
        prev = x
      } else {
        val x =
          if (code < table.length) {
            val v = table(code)
            if (v == null) return None
            table += (prev :+ v(0))
            v
          } else if (code == table.length) {
            val v = prev :+ prev(0)
            table += v
            v
          } else return None
        out.write(x)
        prev = x
      }
    }
    None // unreachable
  } catch { case _: Exception => None }

  /** Inflate a FlateDecode stream. Truncated/corrupt input yields None
    * (skip the stream — silently-partial text would poison the corpus
    * downstream). `Inflater` holds NATIVE zlib memory: `end()` runs in
    * try/finally so damaged streams in a long-lived executor JVM can't
    * leak it (GC finalization is not prompt enough at corpus scale).
    */
  private def inflate(data: Array[Byte]): Option[Array[Byte]] = {
    val inf = new Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(data.length * 4)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return None // truncated input
        if (n > 0) out.write(buf, 0, n)
      }
      if (inf.finished()) Some(out.toByteArray) else None
    } catch { case _: Exception => None }
    finally inf.end()
  }

  /** Walk a content stream: collect shown strings inside `BT…ET`,
    * starting a new line on the cursor-moving text operators and
    * inserting a word gap for large negative `TJ` kerning. `Tf`
    * switches the active font; while an Identity-H CID font is
    * selected, shown strings decode as 2-byte codes through its
    * ToUnicode map (unmapped codes are skipped, never mojibake).
    */
  private[sources] def extractText(
      content: String,
      fonts: Map[String, Map[Int, String]] = Map.empty
  ): String = {
    val sb       = new mutable.StringBuilder
    var i        = 0
    var inBT     = false
    var arrDepth = 0
    var lastName = ""
    var cidMap: Option[Map[Int, String]] = None
    val n        = content.length

    def atWord(w: String): Boolean =
      content.startsWith(w, i) &&
        (i + w.length >= n || !isRegular(content.charAt(i + w.length))) &&
        (i == 0 || !isRegular(content.charAt(i - 1)))

    def newline(): Unit =
      if (sb.nonEmpty && sb.last != '\n') sb += '\n'
      else if (sb.nonEmpty) sb += '\n' // second consecutive move → blank line

    def show(raw: String): Unit = cidMap match {
      case None => sb ++= raw
      case Some(cm) =>
        // Identity-H: raw chars are bytes; each 2-byte code maps
        // through the ToUnicode table
        var k = 0
        while (k + 1 < raw.length) {
          sb ++= cm.getOrElse(((raw.charAt(k) & 0xff) << 8) | (raw.charAt(k + 1) & 0xff), "")
          k += 2
        }
    }

    while (i < n) {
      val c = content.charAt(i)
      if (atWord("BT")) { inBT = true; i += 2 }
      else if (atWord("ET")) { inBT = false; newline(); i += 2 }
      else if (atWord("Tf")) { cidMap = fonts.get(lastName); i += 2 }
      else if (inBT && (atWord("Td") || atWord("TD"))) { newline(); i += 2 }
      else if (inBT && atWord("T*")) { newline(); i += 2 }
      else if (inBT && (c == '\'' || c == '"')) { newline(); i += 1 }
      else if (c == '/') {
        var j = i + 1
        while (j < n && isRegular(content.charAt(j))) j += 1
        lastName = content.substring(i + 1, j)
        i = j
      } else if (c == '(') {
        val (s, next) = parseLiteralString(content, i)
        if (inBT) show(s)
        i = next
      } else if (c == '<' && i + 1 < n && content.charAt(i + 1) != '<') {
        val (s, next) = parseHexString(content, i)
        if (inBT) show(s)
        i = next
      } else if (c == '[') { arrDepth += 1; i += 1 }
      else if (c == ']') { arrDepth = math.max(0, arrDepth - 1); i += 1 }
      else if (inBT && arrDepth > 0 && (c == '-')) {
        // TJ kerning: a big negative move is a word gap
        val numEnd = numberEnd(content, i + 1)
        val v      = content.substring(i + 1, numEnd)
        if (v.nonEmpty && v.forall(ch => ch.isDigit || ch == '.') &&
          v.takeWhile(_.isDigit).length >= 3 &&
          (sb.nonEmpty && sb.last != ' ' && sb.last != '\n')) sb += ' '
        i = numEnd
      } else i += 1
    }
    sb.result().trim
  }

  private def isRegular(c: Char): Boolean =
    !c.isWhitespace && "()<>[]{}/%".indexOf(c) < 0

  private def numberEnd(s: String, from: Int): Int = {
    var j = from
    while (j < s.length && (s.charAt(j).isDigit || s.charAt(j) == '.')) j += 1
    j
  }

  /** `(…)` literal string with PDF escapes: \n \r \t \b \f \( \) \\,
    * octal \ddd, escaped-EOL continuation, and balanced nested parens.
    */
  private def parseLiteralString(s: String, open: Int): (String, Int) = {
    val sb    = new mutable.StringBuilder
    var i     = open + 1
    var depth = 1
    while (i < s.length && depth > 0) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        val e = s.charAt(i + 1)
        e match {
          case 'n'  => sb += '\n'; i += 2
          case 'r'  => sb += '\r'; i += 2
          case 't'  => sb += '\t'; i += 2
          case 'b'  => sb += '\b'; i += 2
          case 'f'  => sb += '\f'; i += 2
          case '('  => sb += '('; i += 2
          case ')'  => sb += ')'; i += 2
          case '\\' => sb += '\\'; i += 2
          case '\n' => i += 2
          case '\r' => i += 2; if (i < s.length && s.charAt(i) == '\n') i += 1
          case d if d >= '0' && d <= '7' =>
            var j   = i + 1
            var oct = 0
            while (j < s.length && j < i + 4 && s.charAt(j) >= '0' && s.charAt(j) <= '7') {
              oct = oct * 8 + (s.charAt(j) - '0'); j += 1
            }
            sb += oct.toChar; i = j
          case other => sb += other; i += 2
        }
      } else if (c == '(') { depth += 1; sb += c; i += 1 }
      else if (c == ')') { depth -= 1; if (depth > 0) sb += c; i += 1 }
      else { sb += c; i += 1 }
    }
    (sb.result(), i)
  }

  /** `<hex>` string: pairs of hex digits → Latin-1 chars (simple-font
    * byte codes); odd final digit is padded with 0 per spec.
    */
  private def parseHexString(s: String, open: Int): (String, Int) = {
    val close = s.indexOf('>', open + 1)
    if (close < 0) return ("", s.length)
    val hex = s.substring(open + 1, close).filter(c => Character.digit(c, 16) >= 0)
    val padded = if (hex.length % 2 == 1) hex + "0" else hex
    val sb = new mutable.StringBuilder
    var j  = 0
    while (j + 1 < padded.length + 1 && j + 2 <= padded.length) {
      sb += Integer.parseInt(padded.substring(j, j + 2), 16).toChar
      j += 2
    }
    (sb.result(), close + 1)
  }
}

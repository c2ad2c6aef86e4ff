package graft.core.pdf

import Lex._
import java.security.MessageDigest
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** Standard security handler decryption (reference decrypt.cc).
  *
  * Supports /R 2 (RC4 40-bit), /R 3 (RC4 40-128), /R 4 via /CF //StdCF //CFM
  * (V2=RC4, AESV2=AES-128-CBC, else Identity). Key derivation is PDF
  * Algorithm 2 (decrypt.cc:136-199); per-object keys decrypt.cc:238-268.
  * OpenSSL EVP calls are replaced by JCE (ARCFOUR / AES-CBC-PKCS5 / MD5).
  */
object Crypto {
  private val PADDING: Array[Byte] = Array(
    0x28, 0xbf, 0x4e, 0x5e, 0x4e, 0x75, 0x8a, 0x41, 0x64, 0x00, 0x4e, 0x56,
    0xff, 0xfa, 0x01, 0x08, 0x2e, 0x2e, 0x00, 0xb6, 0xd0, 0x68, 0x3e, 0x80,
    0x2f, 0x0c, 0xa9, 0xfe, 0x64, 0x53, 0x69, 0x7a).map(_.toByte)

  private sealed trait Alg
  private case object Rc4V1 extends Alg
  private case object Rc4V2 extends Alg
  private case object AesV2 extends Alg
  private case object Identity extends Alg

  private def getAlgorithm(opts: Dict): Alg =
    strictStoul(opts("/R").raw) match {
      case 2 => Rc4V1
      case 3 => Rc4V2
      case 4 =>
        if (!opts.contains("/CF")) Identity
        else {
          val cf = getDictionaryData(opts("/CF").raw, 0)
          if (!cf.contains("/StdCF")) Identity
          else {
            val std = getDictionaryData(cf("/StdCF").raw, 0)
            std.get("/CFM") match {
              case None => Identity
              case Some(v) if v.raw == "/V2" => Rc4V2
              case Some(v) if v.raw == "/AESV2" => AesV2
              case Some(v) => err(s"wrong /CFM value:${v.raw}")
            }
          }
        }
      case v => err(s"wrong /R value:$v")
    }

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }

  /** RC4, the JCE "ARCFOUR" cipher, without its per-call provider lookup.
    * Keys here are 5 to 16 bytes, inside ARCFOUR's 40-1024 bit range. */
  private[pdf] def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = new Array[Int](256)
    var i = 0
    while (i < 256) { s(i) = i; i += 1 }
    var j = 0
    i = 0
    while (i < 256) {
      j = (j + s(i) + (key(i % key.length) & 0xff)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    i = 0
    j = 0
    var k = 0
    while (k < data.length) {
      i = (i + 1) & 0xff
      j = (j + s(i)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      out(k) = (data(k) ^ s((s(i) + s(j)) & 0xff)).toByte
      k += 1
    }
    out
  }

  private def userPad(password: String): Array[Byte] = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 32 && i < password.length) { out(i) = password.charAt(i).toByte; i += 1 }
    var j = 0
    while (i < 32) { out(i) = PADDING(j); i += 1; j += 1 }
    out
  }

  private def keyLength(opts: Dict): Int =
    opts.get("/Length").map(v => strictStoul(v.raw).toInt / 8).getOrElse(40 / 8)

  /** PDF Algorithm 2 file key (decrypt.cc:136-199) */
  private def decryptionKey(opts: Dict): Array[Byte] = {
    val kl = keyLength(opts)
    val d = MessageDigest.getInstance("MD5")
    d.update(PADDING)
    val oVal = decodeString(opts("/O").raw)
    d.update(userPad(oVal))
    val p = strictStol(opts("/P").raw)
    d.update(Array[Byte]((p & 0xff).toByte, ((p >> 8) & 0xff).toByte,
      ((p >> 16) & 0xff).toByte, ((p >> 24) & 0xff).toByte))
    // first element of the /ID array
    val idRaw = opts("/ID").raw
    val sp = new Pos(skipSpaces(idRaw, 1))
    val docId = decodeString(getString(idRaw, sp))
    if (docId.nonEmpty) d.update(Bytes.arr(docId))
    val encryptMeta = opts.get("/EncryptMetadata") match {
      case None => true
      case Some(v) if v.raw == "false" => false
      case Some(v) if v.raw == "true" => true
      case Some(v) => err(s"wrong bool value:${v.raw}")
    }
    if (!encryptMeta) d.update(Array[Byte](-1, -1, -1, -1))
    var digest = d.digest()
    val revision = strictStoul(opts("/R").raw)
    if (revision == 3 || revision == 4) {
      var k = 0
      while (k < 50) { d.update(digest, 0, math.max(0, math.min(kl, digest.length))); digest = d.digest(); k += 1 }
    }
    digest.take(kl)
  }

  /** per-object key (decrypt.cc:238-268) */
  private def objKey(n: Long, g: Long, fileKey: Array[Byte], alg: Alg): (Array[Byte], Int) = {
    val buf = new java.io.ByteArrayOutputStream()
    buf.write(fileKey, 0, fileKey.length)
    buf.write((n & 0xff).toInt); buf.write(((n >> 8) & 0xff).toInt); buf.write(((n >> 16) & 0xff).toInt)
    buf.write((g & 0xff).toInt); buf.write(((g >> 8) & 0xff).toInt)
    if (alg == AesV2) {
      buf.write(0x73); buf.write(0x41); buf.write(0x6c); buf.write(0x54) // "sAlT"
    }
    val key = md5(buf.toByteArray)
    val keyLen = if (fileKey.length <= 11) fileKey.length + 5 else 16
    (key, keyLen)
  }

  /** main entry (decrypt.cc:342-360); empty dict = passthrough */
  def decrypt(n: Long, g: Long, in: String, opts: Dict): String = new Decryptor(opts).decrypt(n, g, in)

  /** One document's decryption. The algorithm and the file key (50 MD5
    * rounds at /R 3 and 4) depend only on the /Encrypt dictionary, so they
    * are derived on first use, in the reference's order, and kept for the
    * document's other objects. */
  private[pdf] final class Decryptor(opts: Dict) {
    private var alg: Alg = null
    private var fileKey: Array[Byte] = null

    def decrypt(n: Long, g: Long, in: String): String = {
      if (opts.isEmpty) return in
      if (alg == null) alg = getAlgorithm(opts)
      alg match {
        case Identity => in
        case Rc4V1 | Rc4V2 =>
          val (key, keyLen) = objKey(n, g, file(), alg)
          Bytes.str(rc4(key.take(keyLen), Bytes.arr(in)))
        case AesV2 =>
          val (key, keyLen) = objKey(n, g, file(), alg)
          val data = Bytes.arr(in)
          if ((data.length - 16) % 16 != 0) err("AES data length must be multiple of 16")
          val c = Cipher.getInstance("AES/CBC/PKCS5Padding")
          c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key.take(keyLen), "AES"),
            new IvParameterSpec(data.take(16)))
          Bytes.str(c.doFinal(data, 16, data.length - 16))
      }
    }

    private def file(): Array[Byte] = {
      if (fileKey == null) fileKey = decryptionKey(opts)
      fileKey
    }
  }
}

package graft.maintenance

import org.apache.hadoop.fs.{FileSystem, Path}

final class InvalidSignatureException(msg: String) extends RuntimeException(msg)

/**
 * The engine's checkpoint object store — the Spark-native recast of the
 * reference's composable ObjectStore stack (reference
 * nodestream/pipeline/object_storage.py:143-344): a byte-blob get/put/delete
 * surface with stackable decorators for namespacing and HMAC signing.
 * Checkpoint state (the work-unit ledger, stream cursors) is the one part of
 * the table a malicious or corrupted writer could use to make a resumed job
 * silently skip or replay work, which is why the reference signs it; the
 * signed decorator gives the same guarantee here — a tampered blob fails
 * verification on read instead of steering the resume.
 *
 * `list` is an addition over the reference surface (a Spark ledger
 * enumerates its completed units rather than pickling one checkpoint blob).
 */
trait ObjectStore {
  def get(key: String): Option[Array[Byte]]
  def put(key: String, data: Array[Byte]): Unit
  def delete(key: String): Unit
  /** Keys under `prefix` (non-recursive listing of direct children). */
  def list(prefix: String): Seq[String]
  /** Drop everything under `prefix`. */
  def deleteAll(prefix: String): Unit

  def namespaced(prefix: String): ObjectStore = new NamespacedObjectStore(this, prefix)
  def signed(signer: HmacSigner): ObjectStore = new SignedObjectStore(this, signer)
}

/** Hadoop-FS backed store: `put` is write-temp + atomic rename, so a
  * half-written checkpoint can never be read back (the reference's
  * DirectoryObjectStore with the engine's atomicity contract). */
final class FsObjectStore(fs: FileSystem, root: Path) extends ObjectStore {
  private def pathOf(key: String) = new Path(root, key)

  override def get(key: String): Option[Array[Byte]] = {
    val p = pathOf(key)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(in.readAllBytes()) finally in.close()
    }
  }

  override def put(key: String, data: Array[Byte]): Unit = {
    val dst = pathOf(key)
    fs.mkdirs(dst.getParent)
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(data) finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"object store put failed for $key")
  }

  override def delete(key: String): Unit = {
    val p = pathOf(key)
    if (fs.exists(p)) fs.delete(p, false)
  }

  override def list(prefix: String): Seq[String] = {
    val dir = pathOf(prefix)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .map(st => s"$prefix/${st.getPath.getName}")
  }

  override def deleteAll(prefix: String): Unit = {
    val dir = pathOf(prefix)
    if (fs.exists(dir)) fs.delete(dir, true)
  }
}

/** Discards everything (reference NullObjectStore) — for runs that must not
  * persist checkpoints. */
object NullObjectStore extends ObjectStore {
  override def get(key: String): Option[Array[Byte]] = None
  override def put(key: String, data: Array[Byte]): Unit = ()
  override def delete(key: String): Unit = ()
  override def list(prefix: String): Seq[String] = Seq.empty
  override def deleteAll(prefix: String): Unit = ()
}

final class NamespacedObjectStore(inner: ObjectStore, prefix: String) extends ObjectStore {
  private def scope(key: String) = s"$prefix/$key"
  override def get(key: String): Option[Array[Byte]] = inner.get(scope(key))
  override def put(key: String, data: Array[Byte]): Unit = inner.put(scope(key), data)
  override def delete(key: String): Unit = inner.delete(scope(key))
  override def list(p: String): Seq[String] =
    inner.list(scope(p)).map(_.stripPrefix(s"$prefix/"))
  override def deleteAll(p: String): Unit = inner.deleteAll(scope(p))
}

/** HMAC-SHA256 signer (reference HmacSigner, object_storage.py:99-118). */
final class HmacSigner(key: Array[Byte]) {
  require(key.nonEmpty, "empty HMAC key")

  /** Hex HMAC-SHA256 of `data` as UTF-8 bytes (always 64 bytes). */
  private def digestHex(data: Array[Byte]): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data).map("%02x".format(_)).mkString.getBytes("UTF-8")
  }

  /** Wire format: "hmac1:" + hex(signature) + '\n' + data. The version
    * prefix makes signed blobs self-describing, so a store that starts
    * signing mid-life can tell a legacy UNSIGNED blob (pre-existing stream
    * cursors, in-flight ledger units) apart from a tampered one and fail
    * with an actionable message instead of a false tamper alarm. (The
    * reference concatenates the RAW digest before the separator; hex keeps
    * the '\n' separator unambiguous — a raw digest can itself contain 0x0a.) */
  def sign(data: Array[Byte]): Array[Byte] =
    HmacSigner.VersionPrefix.getBytes("UTF-8") ++
      digestHex(data) ++ Array('\n'.toByte) ++ data

  /** Verify and strip the signature; constant-time compare. Accepts the
    * prefixless round-4 signed format for old blobs; a blob in neither
    * signed format is reported as UNSIGNED (signing enabled after it was
    * written), not as tampering. */
  def verify(blob: Array[Byte]): Array[Byte] = {
    val prefix = HmacSigner.VersionPrefix.getBytes("UTF-8")
    val body =
      if (blob.length >= prefix.length && blob.startsWith(prefix)) blob.drop(prefix.length)
      else if (looksLegacySigned(blob)) blob
      else throw new InvalidSignatureException(
        "checkpoint blob is not in signed format — checkpoint signing " +
          s"(${ObjectStore.HmacKeyProperty}) was enabled after this blob was " +
          "written. Clear stale checkpoints (ledger units, stream cursors) or " +
          "rewrite them signed before enabling the key; this is not tampering.")
    val nl = body.indexOf('\n'.toByte)
    if (nl != 64) throw new InvalidSignatureException("malformed signed object")
    val data = body.drop(nl + 1)
    if (!java.security.MessageDigest.isEqual(body.slice(0, nl), digestHex(data)))
      throw new InvalidSignatureException("checkpoint signature mismatch")
    data
  }

  /** Round-4 signed wire shape: 64 hex chars then '\n'. A JSON/YAML/pickle
    * checkpoint blob cannot match (its first bytes are structural chars). */
  private def looksLegacySigned(blob: Array[Byte]): Boolean =
    blob.length > 64 && blob(64) == '\n'.toByte &&
      blob.take(64).forall(b =>
        (b >= '0' && b <= '9') || (b >= 'a' && b <= 'f'))
}

object HmacSigner {
  /** Signed-blob wire-format version tag (see [[HmacSigner.sign]]). */
  val VersionPrefix = "hmac1:"

  def fromBase64(b64: String): HmacSigner =
    new HmacSigner(java.util.Base64.getDecoder.decode(b64))
}

/** Sign on put, verify on get (reference SignedObjectStore): a tampered or
  * truncated checkpoint fails loudly instead of steering a resume. */
final class SignedObjectStore(inner: ObjectStore, signer: HmacSigner) extends ObjectStore {
  override def get(key: String): Option[Array[Byte]] = inner.get(key).map(signer.verify)
  override def put(key: String, data: Array[Byte]): Unit = inner.put(key, signer.sign(data))
  override def delete(key: String): Unit = inner.delete(key)
  override def list(prefix: String): Seq[String] = inner.list(prefix)
  override def deleteAll(prefix: String): Unit = inner.deleteAll(prefix)
}

object ObjectStore {
  /** Table-property key: base64 HMAC secret; set ⇒ every checkpoint blob
    * (ledger units, stream cursors) is signed and verified. */
  val HmacKeyProperty = "checkpoint.hmac-key-base64"

  /** The checkpoint store of a table: FS-backed under `metadata/`, HMAC-signed
    * when the table declares a key. */
  def forTable(table: graft.table.TokenTable): ObjectStore = {
    val base = new FsObjectStore(table.fs, table.metadataDir)
    table.metadata.properties.get(HmacKeyProperty) match {
      case Some(b64) => base.signed(HmacSigner.fromBase64(b64))
      case None      => base
    }
  }
}

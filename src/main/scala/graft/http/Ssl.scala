package graft.http

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.{KeyFactory, KeyStore, SecureRandom}
import java.security.cert.{Certificate, CertificateFactory, X509Certificate}
import java.security.spec.PKCS8EncodedKeySpec
import java.util.Base64
import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory, X509TrustManager}

/** TLS / mTLS support (reference: `security/SecurityContext.java`,
  * `security/SelfSignedTrustManager.java`; docs "TLS (more secure
  * replacement for SSL) and mTLS support"):
  *
  *   - `http.security.cert.server` — comma-separated paths to trusted server
  *     certificates (PEM or DER) added to the connector trust store;
  *   - `http.security.cert.client` + `http.security.key.client` — client
  *     certificate and PKCS8 private key (PEM or DER) for mTLS;
  *   - `http.security.cert.server.allowSelfSigned` — trust-everything
  *     context for non-production use;
  *   - no properties → the JVM default trust store (globally trusted CAs).
  */
object Ssl {

  final case class SslConfig(
      serverCertPaths: Seq[String] = Nil,
      clientCertPath: Option[String] = None,
      clientKeyPath: Option[String] = None,
      allowSelfSigned: Boolean = false,
      keyStorePath: Option[String] = None,
      keyStorePassword: String = "",
      keyStoreType: Option[String] = None)
      extends Serializable {
    def isConfigured: Boolean =
      serverCertPaths.nonEmpty || clientCertPath.isDefined ||
        allowSelfSigned || keyStorePath.isDefined
  }

  object SslConfig {
    def fromOptions(o: HttpOptions): SslConfig = SslConfig(
      serverCertPaths = o
        .str(HttpOptions.CertServer, "")
        .split(",")
        .map(_.trim)
        .filter(_.nonEmpty)
        .toSeq,
      clientCertPath = o.strOpt(HttpOptions.CertClient),
      clientKeyPath = o.strOpt(HttpOptions.KeyClient),
      allowSelfSigned = o.bool(HttpOptions.AllowSelfSigned, default = false),
      keyStorePath = o.strOpt(HttpOptions.KeyStorePath).map(_.trim).filter(_.nonEmpty),
      keyStorePassword = o.str(HttpOptions.KeyStorePassword, ""),
      keyStoreType = o.strOpt(HttpOptions.KeyStoreType).map(_.trim).filter(_.nonEmpty))
  }

  /** Build an SSLContext for the config; None → use JDK defaults.
    *
    * Mirrors the reference's `SecurityContext` construction: ONE store —
    * empty, or loaded from `http.security.keystore.path` — backs both the
    * trust managers and the key managers, with any PEM/DER
    * `http.security.cert.*` material added on top
    * (`utils/JavaNetHttpClientFactory.getSslContext`). A keystore file may
    * therefore supply trusted server certs (trusted-cert entries, or the
    * self-signed cert chain of a key entry) and the mTLS client key in one
    * artifact, exactly like a migrated Flink DDL expects.
    */
  def contextFor(cfg: SslConfig): Option[SSLContext] = {
    if (!cfg.isConfigured) return None

    if (cfg.clientCertPath.isDefined != cfg.clientKeyPath.isDefined)
      throw new HttpConfigException(
        "mTLS requires both http.security.cert.client and http.security.key.client")

    // base store: the configured keystore file, or a fresh empty store
    val storePassword = cfg.keyStorePath match {
      case Some(path) =>
        if (cfg.keyStorePassword.isEmpty)
          throw new HttpConfigException(
            s"Missing ${HttpOptions.KeyStorePassword} for provided keystore '$path'")
        cfg.keyStorePassword.toCharArray
      case None => Array.emptyCharArray
    }
    val ks = KeyStore.getInstance(
      cfg.keyStoreType.getOrElse(
        // reference parity: SecurityContext hardcodes a JKS instance, whose
        // JDK dual-format implementation also reads PKCS12 files
        if (cfg.keyStorePath.isDefined) "JKS" else KeyStore.getDefaultType))
    cfg.keyStorePath match {
      case Some(path) =>
        val in = Files.newInputStream(Paths.get(path))
        try ks.load(in, storePassword)
        catch {
          case e: Exception =>
            throw new HttpConfigException(
              s"Unable to load keystore '$path': $e")
        } finally in.close()
      case None => ks.load(null, null)
    }
    cfg.serverCertPaths.zipWithIndex.foreach { case (path, i) =>
      loadCertificates(path).zipWithIndex.foreach { case (cert, j) =>
        ks.setCertificateEntry(s"graft-server-$i-$j", cert)
      }
    }
    val hasKeyEntry = (cfg.clientCertPath, cfg.clientKeyPath) match {
      case (Some(certPath), Some(keyPath)) =>
        val certs = loadCertificates(certPath)
        val key = loadPkcs8Key(keyPath)
        ks.setKeyEntry("graft-client", key, storePassword, certs.toArray[Certificate])
        true
      case _ => cfg.keyStorePath.isDefined // the file may carry a client key
    }

    val trustManagers =
      if (cfg.allowSelfSigned) Array[javax.net.ssl.TrustManager](TrustAll)
      else if (cfg.serverCertPaths.nonEmpty || cfg.keyStorePath.isDefined) {
        val tmf =
          TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
        tmf.init(ks)
        tmf.getTrustManagers
      } else null

    val keyManagers =
      if (hasKeyEntry) {
        val kmf =
          KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
        kmf.init(ks, storePassword)
        kmf.getKeyManagers
      } else null

    val ctx = SSLContext.getInstance("TLS")
    ctx.init(keyManagers, trustManagers, new SecureRandom())
    Some(ctx)
  }

  /** Trust-everything manager for `http.security.cert.server.allowSelfSigned`
    * (non-production use, mirroring the reference's SelfSignedTrustManager).
    */
  private object TrustAll extends X509TrustManager {
    override def checkClientTrusted(c: Array[X509Certificate], a: String): Unit = ()
    override def checkServerTrusted(c: Array[X509Certificate], a: String): Unit = ()
    override def getAcceptedIssuers: Array[X509Certificate] = Array.empty
  }

  /** Load X.509 certificate(s) from a PEM or DER file. */
  def loadCertificates(path: String): Seq[X509Certificate] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val cf = CertificateFactory.getInstance("X.509")
    // CertificateFactory handles both PEM (BEGIN CERTIFICATE blocks) and DER
    val in = new ByteArrayInputStream(bytes)
    val out = scala.collection.mutable.ArrayBuffer.empty[X509Certificate]
    while (in.available() > 0) {
      cf.generateCertificate(in) match {
        case x: X509Certificate => out += x
        case _ =>
      }
    }
    if (out.isEmpty)
      throw new HttpConfigException(s"No certificates found in '$path'")
    out.toSeq
  }

  /** Load a PKCS8 private key from PEM (`BEGIN PRIVATE KEY`) or raw DER.
    * RSA and EC keys supported (reference docs: "The key MUST be in PKCS8
    * format. Both PEM and DER keys are allowed").
    */
  def loadPkcs8Key(path: String): java.security.PrivateKey = {
    val raw = Files.readAllBytes(Paths.get(path))
    val text = new String(raw, StandardCharsets.US_ASCII)
    val der =
      if (text.contains("-----BEGIN")) {
        val b64 = text.linesIterator
          .filterNot(_.startsWith("-----"))
          .mkString("")
        Base64.getMimeDecoder.decode(b64)
      } else raw
    val spec = new PKCS8EncodedKeySpec(der)
    val algorithms = Seq("RSA", "EC", "Ed25519")
    algorithms.iterator
      .flatMap { alg =>
        try Some(KeyFactory.getInstance(alg).generatePrivate(spec))
        catch { case _: Exception => None }
      }
      .nextOption()
      .getOrElse(
        throw new HttpConfigException(
          s"Could not parse PKCS8 private key at '$path' (tried ${algorithms.mkString(", ")})"))
  }
}

package graft.http.testkit

import java.nio.file.{Files, Path}
import java.security.KeyStore
import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory}

import graft.http.Ssl

/** A keytool-made self-signed certificate for `127.0.0.1`: `keyStore` is
  * the PKCS12 key + certificate (`server.p12`, password [[Password]]) and
  * `pem` the certificate alone (`server.pem`), for clients to trust.
  */
final case class SelfSignedCert(keyStore: Path, pem: Path) {

  /** Server-side context for a TLS [[StubServer]]; `trustClientPem` is the
    * client certificate an mTLS server accepts.
    */
  def serverContext(trustClientPem: Option[Path] = None): SSLContext = {
    val ks = KeyStore.getInstance("PKCS12")
    val in = Files.newInputStream(keyStore)
    try ks.load(in, SelfSignedCert.Password.toCharArray)
    finally in.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, SelfSignedCert.Password.toCharArray)
    val trustManagers = trustClientPem.map { pem =>
      val trust = KeyStore.getInstance(KeyStore.getDefaultType)
      trust.load(null, null)
      Ssl.loadCertificates(pem.toString).zipWithIndex.foreach {
        case (c, i) => trust.setCertificateEntry(s"client-$i", c)
      }
      val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(trust)
      tmf.getTrustManagers
    }
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, trustManagers.orNull, null)
    ctx
  }
}

object SelfSignedCert {
  val Password = "changeit"

  /** Writes `server.p12` and `server.pem` into `dir`. */
  def create(dir: Path): SelfSignedCert = {
    val cert = SelfSignedCert(dir.resolve("server.p12"), dir.resolve("server.pem"))
    keytool(
      "-genkeypair", "-alias", "server", "-keyalg", "RSA",
      "-keysize", "2048", "-validity", "30",
      "-dname", "CN=127.0.0.1", "-ext", "SAN=IP:127.0.0.1",
      "-keystore", cert.keyStore.toString, "-storetype", "PKCS12",
      "-storepass", Password, "-keypass", Password)
    keytool(
      "-exportcert", "-alias", "server", "-rfc",
      "-keystore", cert.keyStore.toString, "-storepass", Password,
      "-file", cert.pem.toString)
    cert
  }

  private def keytool(args: String*): Unit = {
    val cmd = "keytool" +: args
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val log = new String(p.getInputStream.readAllBytes, "UTF-8")
    require(p.waitFor() == 0, s"keytool failed: ${cmd.mkString(" ")}\n$log")
  }
}

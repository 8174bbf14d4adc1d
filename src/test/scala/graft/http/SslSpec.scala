package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.KeyStore
import javax.net.ssl.{KeyManagerFactory, SSLContext}

import com.sun.net.httpserver.{HttpsConfigurator, HttpsServer, HttpExchange => ServerExchange}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** End-to-end TLS: a real HTTPS server with a keytool-generated self-signed
  * certificate, exercised through the connector's client factory — both the
  * allowSelfSigned path and the explicit trusted-server-cert path
  * (reference: HttpsConnectionTestBase coverage).
  */
class SslSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private var dir: Path = _
  private var server: HttpsServer = _
  private var port: Int = 0
  private var certPem: Path = _

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("graft-ssl")
    val ksPath = dir.resolve("server.p12")
    val keytool = new ProcessBuilder(
      "keytool", "-genkeypair", "-alias", "server", "-keyalg", "RSA",
      "-keysize", "2048", "-validity", "30",
      "-dname", "CN=127.0.0.1", "-ext", "SAN=IP:127.0.0.1",
      "-keystore", ksPath.toString, "-storetype", "PKCS12",
      "-storepass", "changeit", "-keypass", "changeit")
      .redirectErrorStream(true).start()
    keytool.waitFor() shouldBe 0
    // export the cert as PEM for the trust-store path test
    certPem = dir.resolve("server.pem")
    new ProcessBuilder(
      "keytool", "-exportcert", "-alias", "server", "-rfc",
      "-keystore", ksPath.toString, "-storepass", "changeit",
      "-file", certPem.toString)
      .redirectErrorStream(true).start().waitFor() shouldBe 0

    val ks = KeyStore.getInstance("PKCS12")
    val in = Files.newInputStream(ksPath)
    try ks.load(in, "changeit".toCharArray)
    finally in.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)

    server = HttpsServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setHttpsConfigurator(new HttpsConfigurator(ctx))
    server.createContext(
      "/secure",
      (ex: ServerExchange) => {
        val body = """{"ok": true}""".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      })
    server.start()
    port = server.getAddress.getPort
  }

  // ----- mTLS fixture (r12): a second HTTPS server that REQUIRES a client
  // certificate — the connector's PEM clientCert/clientKey pair must
  // complete the handshake, and omitting it must fail. Client material is
  // an openssl self-signed pair (PKCS8 key via -nodes), trusted by the
  // server's context. -----
  private var mtlsServer: HttpsServer = _
  private var mtlsPort = 0
  private var clientCertPem: Path = _
  private var clientKeyPem: Path = _

  private def startMtlsServer(): Unit = {
    clientCertPem = dir.resolve("client_cert.pem")
    clientKeyPem = dir.resolve("client_key.pem")
    new ProcessBuilder(
      "openssl", "req", "-x509", "-newkey", "rsa:2048",
      "-keyout", clientKeyPem.toString, "-out", clientCertPem.toString,
      "-nodes", "-subj", "/CN=graft-client", "-days", "30")
      .redirectErrorStream(true).start().waitFor() shouldBe 0

    val ks = KeyStore.getInstance("PKCS12")
    val in = Files.newInputStream(dir.resolve("server.p12"))
    try ks.load(in, "changeit".toCharArray)
    finally in.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val trust = KeyStore.getInstance(KeyStore.getDefaultType)
    trust.load(null, null)
    Ssl.loadCertificates(clientCertPem.toString).zipWithIndex.foreach {
      case (c, i) => trust.setCertificateEntry(s"client-$i", c)
    }
    val tmf = javax.net.ssl.TrustManagerFactory
      .getInstance(javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(trust)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, tmf.getTrustManagers, null)

    mtlsServer = HttpsServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    mtlsServer.setHttpsConfigurator(new HttpsConfigurator(ctx) {
      override def configure(
          params: com.sun.net.httpserver.HttpsParameters): Unit = {
        val ssl = ctx.getDefaultSSLParameters
        ssl.setNeedClientAuth(true)
        params.setSSLParameters(ssl)
      }
    })
    mtlsServer.createContext(
      "/secure",
      (ex: ServerExchange) => {
        val body = """{"mtls": true}""".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      })
    mtlsServer.start()
    mtlsPort = mtlsServer.getAddress.getPort
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    if (mtlsServer != null) mtlsServer.stop(0)
  }

  private def lookupClient(options: Map[String, String]): graft.http.HttpExchange = {
    val o = HttpOptions(options)
    new graft.http.HttpExchange(
      HttpClientFactory.build(HttpClientFactory.ClientConfig.fromOptions(o)),
      Nil,
      RequestCallback.NoOp,
      StatusPolicy.lookup(HttpOptions(HttpOptions.RetryCodes -> "503")),
      FixedDelayRetry(0, 1L),
      5000L)
  }

  private implicit class Execute(ex: graft.http.HttpExchange) {
    def execute(method: String, url: String, body: Option[String]): HttpOutcome =
      graft.http.HttpExchange.await(ex.send(method, url, body))
  }

  test("https with allowSelfSigned completes the lookup") {
    val out = lookupClient(
      Map("http.security.cert.server.allowSelfSigned" -> "true"))
      .execute("GET", s"https://127.0.0.1:$port/secure", None)
    out.state shouldBe CompletionState.Success
    out.body shouldBe """{"ok": true}"""
  }

  test("https with the server cert in the trust store completes the lookup") {
    val out = lookupClient(
      Map("http.security.cert.server" -> certPem.toString))
      .execute("GET", s"https://127.0.0.1:$port/secure", None)
    out.state shouldBe CompletionState.Success
  }

  test("https without trust fails with EXCEPTION state") {
    val out = lookupClient(Map.empty)
      .execute("GET", s"https://127.0.0.1:$port/secure", None)
    out.state shouldBe CompletionState.Exception
  }

  test("PEM certificate loader parses the exported cert") {
    val certs = Ssl.loadCertificates(certPem.toString)
    certs should have size 1
    certs.head.getSubjectX500Principal.getName should include("CN=127.0.0.1")
  }

  test("mTLS config requires both cert and key") {
    an[HttpConfigException] should be thrownBy Ssl.contextFor(
      Ssl.SslConfig(clientCertPath = Some("/x"), clientKeyPath = None))
  }

  // ----- http.security.keystore.{path,password,type} (reference:
  // HttpConnectorConfigConstants.java:100-105, SecurityContext
  // .createFromKeyStore) — trust material loaded from a keystore FILE -----

  test("https trusting via http.security.keystore.path completes the lookup") {
    // the server's own PKCS12 (key entry whose chain head is the
    // self-signed cert) read through the reference's hardcoded-JKS route:
    // the JDK dual-format JKS store transparently loads PKCS12, and the
    // trust managers pick up the key entry's certificate chain
    val out = lookupClient(
      Map(
        "http.security.keystore.path" -> dir.resolve("server.p12").toString,
        "http.security.keystore.password" -> "changeit"))
      .execute("GET", s"https://127.0.0.1:$port/secure", None)
    out.state shouldBe CompletionState.Success
    out.body shouldBe """{"ok": true}"""
  }

  test("explicit http.security.keystore.type PKCS12 is honored") {
    val trustP12 = dir.resolve("trust.p12")
    if (!Files.exists(trustP12)) {
      new ProcessBuilder(
        "keytool", "-importcert", "-noprompt", "-alias", "server",
        "-file", certPem.toString, "-keystore", trustP12.toString,
        "-storetype", "PKCS12", "-storepass", "tsecret")
        .redirectErrorStream(true).start().waitFor() shouldBe 0
    }
    val out = lookupClient(
      Map(
        "http.security.keystore.path" -> trustP12.toString,
        "http.security.keystore.password" -> "tsecret",
        "http.security.keystore.type" -> "PKCS12"))
      .execute("GET", s"https://127.0.0.1:$port/secure", None)
    out.state shouldBe CompletionState.Success
  }

  test("keystore path without password fails fast (reference parity)") {
    val e = intercept[HttpConfigException](
      Ssl.contextFor(Ssl.SslConfig(
        keyStorePath = Some(dir.resolve("server.p12").toString))))
    e.getMessage should include("http.security.keystore.password")
  }

  test("keystore with a wrong password fails loudly, not as silent no-trust") {
    an[HttpConfigException] should be thrownBy Ssl.contextFor(
      Ssl.SslConfig(
        keyStorePath = Some(dir.resolve("server.p12").toString),
        keyStorePassword = "wrong"))
  }

  // ----- mTLS end-to-end (r12): server enforces client auth -----

  test("mTLS: client cert + PKCS8 key complete an enforced handshake") {
    if (mtlsServer == null) startMtlsServer()
    val out = lookupClient(
      Map(
        "http.security.cert.server" -> certPem.toString,
        "http.security.cert.client" -> clientCertPem.toString,
        "http.security.key.client" -> clientKeyPem.toString))
      .execute("GET", s"https://127.0.0.1:$mtlsPort/secure", None)
    out.state shouldBe CompletionState.Success
    out.body shouldBe """{"mtls": true}"""
  }

  test("mTLS: the same server rejects a client without a certificate") {
    if (mtlsServer == null) startMtlsServer()
    val out = lookupClient(
      Map("http.security.cert.server" -> certPem.toString))
      .execute("GET", s"https://127.0.0.1:$mtlsPort/secure", None)
    out.state shouldBe CompletionState.Exception
  }
}

package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Env/config parity with the reference's settings module: precedence
  * (env var > creds.json > default), truthy parsing, SSL url shaping, the
  * XDG config search path, and RunEtl's env-driven input resolution. */
class SettingsSpec extends AnyFunSuite {

  test("isTruthy: the reference's true/1/t convention, case-insensitive") {
    assert(Seq("true", "TRUE", "1", "t", "T").forall(Settings.isTruthy))
    assert(!Seq("false", "0", "yes", "").exists(Settings.isTruthy))
  }

  test("searchFolders: XDG_DATA_HOME heads the path, /usr/share default") {
    assert(Settings.searchFolders("tube", Map.empty).head ===
      "/usr/share/gen3/tube")
    val f = Settings.searchFolders("tube", Map("XDG_DATA_HOME" -> "/home/x/.local/share"))
    assert(f.head === "/home/x/.local/share/gen3/tube")
    assert(f.contains("/var/www/tube") && f.contains("/gen3/tube"))
  }

  test("db: env beats creds beats default; ssl is an OR and shapes the JDBC url") {
    // XDG_DATA_HOME/gen3/tube is the first folder on the search path
    val xdg = Files.createTempDirectory("xdg")
    val dir = Files.createDirectories(xdg.resolve("gen3/tube"))
    Files.write(dir.resolve("creds.json"),
      """{"db_host":"pg.internal","db_port":"5433","db_username":"alice",
        |"db_use_ssl":true}""".stripMargin.getBytes("UTF-8"))
    val creds = Settings.loadCreds(Map("XDG_DATA_HOME" -> xdg.toString))
    assert(creds("db_host") === "pg.internal")

    // creds fill what env leaves unset; defaults fill the rest
    val d1 = Settings.db(Map("DB_HOST" -> "envhost"), creds)
    assert(d1.host === "envhost")       // env wins
    assert(d1.port === "5433")          // creds wins
    assert(d1.database === "sheepdog")  // default
    assert(d1.username === "alice")
    assert(d1.useSsl)                   // creds flag alone suffices
    assert(d1.jdbcUrl ===
      "jdbc:postgresql://envhost:5433/sheepdog?sslmode=require")

    val d2 = Settings.db(Map.empty, Map.empty)
    assert(d2.jdbcUrl === "jdbc:postgresql://localhost:5432/sheepdog")
    assert(Settings.db(Map("DB_USE_SSL" -> "1"), Map.empty).useSsl)
  }

  test("loadCreds: missing file resolves to empty, consumers fall to defaults") {
    val xdg = Files.createTempDirectory("xdg-empty")
    assert(Settings.loadCreds(Map("XDG_DATA_HOME" -> xdg.toString)) ===
      Map.empty)
  }

  test("sparkTuning: SPARK_MASTER/memory env-driven, memory absent by default") {
    val t0 = Settings.sparkTuning(Map("SPARK_GRAFT_CPUS" -> "4"))
    assert(t0.master === "local[4]")
    assert(t0.executorMemory.isEmpty && t0.driverMemory.isEmpty)
    val t1 = Settings.sparkTuning(Map("SPARK_MASTER" -> "spark://m:7077",
      "SPARK_EXECUTOR_MEMORY" -> "8g", "SPARK_DRIVER_MEMORY" -> "2g"))
    assert(t1.master === "spark://m:7077")
    assert(t1.executorMemory === Some("8g"))
    assert(t1.driverMemory === Some("2g"))
  }

  test("Sessions.defaultCores: SPARK_GRAFT_CPUS, else every core; a bad " +
      "value is an error naming it") {
    assert(Sessions.defaultCores(Map("SPARK_GRAFT_CPUS" -> "3")) === 3)
    assert(Sessions.defaultCores(Map.empty) ===
      Runtime.getRuntime.availableProcessors)
    assert(Settings.sparkTuning(Map.empty).master ===
      s"local[${Runtime.getRuntime.availableProcessors}]")
    Seq("four", "0").foreach { v =>
      val e = intercept[IllegalArgumentException](
        Sessions.defaultCores(Map("SPARK_GRAFT_CPUS" -> v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") &&
        e.getMessage.contains(s"'$v'"))
    }
    // the streaming drains' partition override follows the same rule
    val parts = "SPARK_GRAFT_STREAM_PARTS"
    assert(Sessions.positiveIntEnv(Map(parts -> "16"), parts) === Some(16))
    assert(Sessions.positiveIntEnv(Map.empty, parts) === None)
    Seq("abc", "0", "-2").foreach { v =>
      val e = intercept[IllegalArgumentException](
        Sessions.positiveIntEnv(Map(parts -> v), parts))
      assert(e.getMessage.contains(parts) && e.getMessage.contains(s"'$v'"))
    }
  }

  test("RunEtl.resolveInputs: positional wins; 2-arg form pulls schema from DICTIONARY_URL and mapping from the search path") {
    assert(RunEtl.resolveInputs(Seq("s", "m", "d", "o"), Map.empty) ===
      (("s", "m", "d", "o")))
    // the mapping sits in XDG_DATA_HOME/gen3/tube, the first folder
    // on the search path
    val xdg = Files.createTempDirectory("xdg")
    val dir = Files.createDirectories(xdg.resolve("gen3/tube"))
    Files.write(dir.resolve("etlMapping.yaml"), "x".getBytes("UTF-8"))
    val env = Map("XDG_DATA_HOME" -> xdg.toString,
      "DICTIONARY_URL" -> "file:///schemas/dd.json")
    val r = RunEtl.resolveInputs(Seq("dumps", "out"), env)
    assert(r === (("/schemas/dd.json", dir.resolve("etlMapping.yaml").toString,
      "dumps", "out")))
    // neither env nor positional ⇒ a loud usage error
    assertThrows[RuntimeException](
      RunEtl.resolveInputs(Seq("dumps", "out"), Map.empty))
    assertThrows[RuntimeException](RunEtl.resolveInputs(Seq("x"), Map.empty))
    // a remote dictionary is refused up front, naming the variable
    val url = "https://dd.example.org/schema.json"
    val e = intercept[IllegalArgumentException](
      RunEtl.resolveInputs(Seq("dumps", "out"),
        env.updated("DICTIONARY_URL", url)))
    assert(e.getMessage.contains("DICTIONARY_URL") && e.getMessage.contains(url))
    // flags: parsed apart from the positional inputs, misspellings refused
    val a = RunEtl.parseArgs(Seq("--force", "s", "m", "--cdc", "d", "o",
      "--source-tx-millis=0", "--bloom-prune-roots=50"))
    assert(a.positional === Seq("s", "m", "d", "o"))
    assert(a.force && a.cdc && !a.backup && a.restore.isEmpty)
    assert(a.sourceTxMillis === Some(0L) && a.bloomPruneRoots === Some(50L))
    assert(RunEtl.parseArgs(Seq("out", "--restore=idx", "--backup")) ===
      RunEtl.Args(force = false, backup = true, cdc = false, None, None,
        Some("idx"), Seq("out")))
    def refused(args: String*): String =
      intercept[IllegalArgumentException](RunEtl.parseArgs(args)).getMessage
    for (bad <- Seq("--forse", "--bakcup", "--force=yes", "--source-tx=1"))
      assert(refused("d", "o", bad).contains(bad))
    for (bad <- Seq("abc", "-1", ""))
      assert(refused("d", "o", s"--source-tx-millis=$bad")
        .contains("--source-tx-millis"))
    for (bad <- Seq("abc", "0", "-3"))
      assert(refused("d", "o", s"--bloom-prune-roots=$bad")
        .contains("--bloom-prune-roots"))
  }
}

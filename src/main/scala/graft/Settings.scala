package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** Deployment-environment parity layer (reference tube/settings.py:18-110
  * and tube/config_helper.py): resolves connection and tuning settings
  * from, in precedence order, environment variables, a `creds.json` found
  * on the reference's config search path, then the reference's defaults —
  * so the engine drops into a deployment driven by the reference's
  * env-var conventions (DB_*, ES_*, DICTIONARY_URL, SPARK_*) unchanged.
  *
  * Everything is a pure function over an injected env map, so specs cover
  * every precedence rule without touching the process environment; callers
  * pass `sys.env` at the edge. */
object Settings {

  /** The reference's truthy convention: "true"/"1"/"t", case-insensitive
    * (settings.py:24 `ENV_DB_USE_SSL_BOOL`). */
  def isTruthy(v: String): Boolean =
    Set("true", "1", "t")(v.toLowerCase)

  /** Config search path (config_helper.py:12-22 `default_search_folders`):
    * `$XDG_DATA_HOME/gen3/<app>` (XDG_DATA_HOME defaults to /usr/share),
    * then the three fixed system folders. */
  def searchFolders(appName: String, env: Map[String, String]): Seq[String] = {
    val xdg = env.getOrElse("XDG_DATA_HOME", "/usr/share")
    Seq(s"$xdg/gen3/$appName", s"/usr/share/gen3/$appName",
      s"/var/www/$appName", s"/gen3/$appName")
  }

  /** First existing `<folder>/<fileName>` on the search path
    * (config_helper.py:25-33 `find_paths`, first match). `folders`
    * overrides the default search path (the testing hook the reference
    * also exposes). */
  def findPath(fileName: String, appName: String, env: Map[String, String],
               folders: Option[Seq[String]] = None): Option[String] =
    folders.getOrElse(searchFolders(appName, env))
      .map(f => Paths.get(f, fileName))
      .find(Files.exists(_))
      .map(_.toString)

  /** creds.json as a flat string map (config_helper.py:36-46 `load_json`;
    * missing file ⇒ empty — every consumer then falls through to its
    * default). Non-string JSON values (the optional `db_use_ssl` boolean)
    * are carried as their text form. */
  def loadCreds(env: Map[String, String],
                folders: Option[Seq[String]] = None): Map[String, String] =
    findPath("creds.json", "tube", env, folders).map { p =>
      new ObjectMapper().readTree(Files.readAllBytes(Paths.get(p)))
        .properties().asScala
        .map(e => e.getKey -> e.getValue.asText())
        .toMap
    }.getOrElse(Map.empty)

  /** Postgres connection settings (settings.py:18-33): env var beats
    * creds.json beats default; SSL is an OR of the env flag and the creds
    * flag, and appends `?sslmode=require` to the JDBC url. */
  final case class Db(host: String, port: String, database: String,
                      username: String, password: String, useSsl: Boolean) {
    def jdbcUrl: String = {
      val base = s"jdbc:postgresql://$host:$port/$database"
      if (useSsl) s"$base?sslmode=require" else base
    }
  }

  def db(env: Map[String, String], creds: Map[String, String]): Db = {
    def pick(envKey: String, credKey: String, dflt: String) =
      env.get(envKey).filter(_.nonEmpty)
        .orElse(creds.get(credKey)).getOrElse(dflt)
    Db(
      host = pick("DB_HOST", "db_host", "localhost"),
      port = pick("DB_PORT", "db_port", "5432"),
      database = pick("DB_DATABASE", "db_database", "sheepdog"),
      username = pick("DB_USERNAME", "db_username", "peregrine"),
      password = pick("DB_PASSWORD", "db_password", "unknown"),
      useSsl = env.get("DB_USE_SSL").exists(isTruthy) ||
        creds.get("db_use_ssl").exists(isTruthy))
  }

  /** Elasticsearch/OpenSearch connection settings (settings.py:40-77):
    * SSL turns on via the env flag OR port 443; basic auth only when both
    * user and password are present. `sparkConfig` is the es-hadoop
    * DataSource option map (`ES_SPARK_CONFIG`) EsSink passes through. */
  final case class Es(url: String, port: String, useSsl: Boolean,
                      authUser: Option[String], authPass: Option[String]) {
    def sparkConfig: Map[String, String] = {
      val base = Map(
        "es.nodes" -> url,
        "es.port" -> port,
        "es.net.ssl" -> useSsl.toString,
        "es.nodes.client.only" -> "false",
        "es.nodes.discovery" -> "false",
        "es.nodes.data.only" -> "false",
        "es.nodes.wan.only" -> "true")
      (authUser, authPass) match {
        case (Some(u), Some(p)) => base ++ Map(
          "es.net.http.auth.user" -> u, "es.net.http.auth.pass" -> p)
        case _ => base
      }
    }
  }

  def es(env: Map[String, String]): Es = {
    val port = env.getOrElse("ES_PORT", "9200")
    Es(
      url = env.getOrElse("ES_URL", "esproxy-service"),
      port = port,
      useSsl = env.get("ES_USE_SSL").exists(isTruthy) || port == "443",
      authUser = env.get("ES_AUTH_USERNAME").filter(_.nonEmpty),
      authPass = env.get("ES_AUTH_PASSWORD").filter(_.nonEmpty))
  }

  /** DICTIONARY_URL (settings.py:36-39). A deployment points this at the
    * data-dictionary schema.json; a plain path or `file://` URI loads
    * locally (the only mode exercisable without egress). */
  def dictionaryUrl(env: Map[String, String]): Option[String] =
    env.get("DICTIONARY_URL").filter(_.nonEmpty)

  /** Strip a `file://` scheme down to the filesystem path. */
  def asLocalPath(url: String): String =
    if (url.startsWith("file://")) url.stripPrefix("file://") else url

  /** Spark tuning (settings.py:103-105): master defaults to the engine's
    * local[N], N from [[Sessions.defaultCores]] (reference default is
    * local[1]); executor/driver memory are only APPLIED when the env sets
    * them — in local mode a reference-default 2g/512m would shrink the
    * JVM rather than match it. */
  final case class SparkTuning(master: String,
                               executorMemory: Option[String],
                               driverMemory: Option[String])

  def sparkTuning(env: Map[String, String]): SparkTuning =
    SparkTuning(
      master = env.get("SPARK_MASTER").filter(_.nonEmpty)
        .getOrElse(s"local[${Sessions.defaultCores(env)}]"),
      executorMemory = env.get("SPARK_EXECUTOR_MEMORY").filter(_.nonEmpty),
      driverMemory = env.get("SPARK_DRIVER_MEMORY").filter(_.nonEmpty))
}

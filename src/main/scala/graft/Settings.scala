package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** Deployment-environment parity layer (reference tube/settings.py:18-110
  * and tube/config_helper.py): resolves connection and tuning settings
  * from, in precedence order, environment variables, a `creds.json` found
  * on the reference's config search path, then the reference's defaults —
  * so the engine drops into a deployment driven by the reference's
  * env-var conventions (DB_*, DICTIONARY_URL, SPARK_*) unchanged.
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
    * (config_helper.py:25-33 `find_paths`, first match). Tests steer it
    * through `XDG_DATA_HOME` in the injected env, the folder searched
    * first. */
  def findPath(fileName: String, appName: String,
               env: Map[String, String]): Option[String] =
    searchFolders(appName, env)
      .map(f => Paths.get(f, fileName))
      .find(Files.exists(_))
      .map(_.toString)

  /** creds.json as a flat string map (config_helper.py:36-46 `load_json`;
    * missing file ⇒ empty — every consumer then falls through to its
    * default). Non-string JSON values (the optional `db_use_ssl` boolean)
    * are carried as their text form. */
  def loadCreds(env: Map[String, String]): Map[String, String] =
    findPath("creds.json", "tube", env).map { p =>
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

  /** DICTIONARY_URL (settings.py:36-39) as a local path: a plain path, or
    * a `file://` URI stripped to its path. The engine reads the dictionary
    * from local files only, so any other scheme (HTTP(S) in a reference
    * deployment) is an error naming the variable and the value. */
  def dictionaryPath(env: Map[String, String]): Option[String] =
    env.get("DICTIONARY_URL").filter(_.nonEmpty).map {
      case u if u.startsWith("file://") => u.stripPrefix("file://")
      case u if u.contains("://") =>
        throw new IllegalArgumentException(
          s"DICTIONARY_URL must be a local path or a file:// URI, got '$u'")
      case u => u
    }

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

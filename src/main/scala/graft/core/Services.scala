package graft.core

/** Late-bound named services, mirroring Bonobo's `Service` descriptors
  * resolved at run time from a user-supplied dict
  * (`/root/reference/bonobo_sqlalchemy/writers.py:37`,
  * `tests/test_integration.py:171`: `services={'sqlalchemy.engine': engine}`).
  */
final case class ServiceRegistry(services: Map[String, Any] = Map.empty) {
  def apply[T](name: String): T =
    services
      .getOrElse(
        name,
        throw new UnrecoverableOperationalError(
          s"Cannot resolve service '$name'. Available: ${services.keys.mkString(", ")}"))
      .asInstanceOf[T]

  def engine(name: String = "jdbc.engine"): JdbcEngine = apply[JdbcEngine](name)
}

/** Spark-side analog of a SQLAlchemy engine: a bundle of JDBC options.
  *
  * Mirrors `create_postgresql_engine` (`util.py:20-35`): kwargs override
  * `POSTGRES_*` environment variables override defaults; the DSN template is
  * `{driver}://{user}:{pass}@{host}:{port}/{name}?{options}` (`util.py:17`).
  */
final case class JdbcEngine(
    url: String,
    user: String = "",
    password: String = "",
    driver: String = "org.postgresql.Driver",
    extraOptions: Map[String, String] = Map.empty) {

  /** Option map consumable by `spark.read.format("jdbc").options(...)`. */
  def options: Map[String, String] =
    Map("url" -> url, "user" -> user, "password" -> password, "driver" -> driver) ++
      extraOptions
}

object JdbcEngine {

  /** Defaults per `util.py:8-15`. */
  private val defaults = Map(
    "user" -> "postgres",
    "pass" -> "",
    "host" -> "localhost",
    "port" -> "5432",
    "name" -> "postgres"
  )

  /** Build a Postgres engine from overrides > env (`{env}_{KEY}`) > defaults,
    * the same resolution order as `util.py:26-31`. */
  def postgres(
      overrides: Map[String, String] = Map.empty,
      env: String = "POSTGRES",
      getenv: String => Option[String] = sys.env.get,
      options: String = "client_encoding=utf8"): JdbcEngine = {
    def get(key: String): String =
      overrides.getOrElse(key, getenv(s"${env}_${key.toUpperCase}").getOrElse(defaults(key)))
    val url =
      s"jdbc:postgresql://${get("host")}:${get("port")}/${get("name")}?$options"
    JdbcEngine(url, user = get("user"), password = get("pass"))
  }
}

package graft.ingest

/** Config source — reference op-18 (`lib_env.py:9-71`): fail-fast env-var
  * reads (KeyError ⇔ NoSuchElementException here), hardcoded port 5432,
  * and the five connection-string formatters. Takes the environment as a
  * parameter (default `sys.env`) so specs can inject values.
  */
final case class Config(
    host: String,
    user: String,
    password: String,
    database: String
) {
  val port: Int = 5432 // hardcoded in the reference (`lib_env.py:26`)

  /** `lib_env.py:28-33` — plain URL form. */
  def connectionUrl: String =
    s"postgresql://$user:$password@$host/$database"

  /** `lib_env.py:35-40` — psycopg2 dialect form. */
  def connectionUrlPsycopg2: String =
    s"postgresql+psycopg2://$user:$password@$host/$database"

  /** `lib_env.py:42-50` — psycopg3 dialect form. */
  def connectionUrlPsycopg: String =
    s"postgresql+psycopg://$user:$password@$host/$database"

  /** `lib_env.py:52-59` — explicit-port form (psycopg3 dialect, like the
    * reference's `get_postgres_psycopg3_connection_string_with_port`).
    */
  def connectionUrlWithPort: String =
    s"postgresql+psycopg://$user:$password@$host:$port/$database"

  /** `lib_env.py:61-68` — key-value (libpq) form, reference field order. */
  def connectionKeyValue: String =
    s"user=$user password=$password host=$host dbname=$database port=$port"

  /** The engine-native equivalent: a JDBC URL (pgjdbc's form). */
  def jdbcUrl: String = s"jdbc:postgresql://$host:$port/$database"
}

object Config {
  /** Fail-fast construction from env vars (reference `lib_env.py:14-17`:
    * missing variable raises immediately).
    */
  def fromEnv(env: Map[String, String] = sys.env): Config =
    Config(
      host = env("POSTGRES_HOST"),
      user = env("POSTGRES_USER"),
      password = env("POSTGRES_PASSWORD"),
      database = env("POSTGRES_DATABASE")
    )
}

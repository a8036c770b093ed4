package graft.api

/** Port of the reference's bearer-token role gate
  * (`kalytical/auth/auth.py:9-47`): every facade
  * verb declares an allowed-role class ('read' or 'admin',
  * `facade.py:30-124`), requests carry a bearer token, and the checker
  * admits it when (a) it is one of the static API tokens — superuser,
  * `auth.py:15,32-33` — or (b) its verified group memberships intersect
  * the role class (`auth.py:40-43`; admin groups 'Data-Admin'/
  * 'Data-Engineers', read groups 'Data-Analyst'/'Data-Guest'/
  * 'Data-Default', `auth.py:13-14`).
  *
  * The Okta `AccessTokenVerifier` (`auth.py:34-40`) is behind
  * [[TokenVerifier]]: [[JwtVerifier]] is the signature-validating
  * implementation (HS256/RS256, exp/nbf, `groups` claim, keys from a
  * static JWKS document); [[StaticTokenVerifier]] remains the
  * zero-crypto stand-in mapping tokens to groups directly (e.g. for
  * tests/config-secret deployments). Deviation noted: the reference's
  * `verify` only ever grants on
  * the admin path (`auth.py:41-43` sets `is_authenticated` solely when
  * `'admin' in allowed_roles`), leaving read endpoints reachable only by
  * API token — a bug per its own role taxonomy. We implement the
  * evident intent: read verbs admit read OR admin groups, admin verbs
  * admit admin groups only.
  */
object Auth {

  final case class AuthError(message: String, statusCode: Int = 403)
      extends RuntimeException(message)

  /** `auth.py:13-14` */
  val AdminGroups: Set[String] = Set("Data-Admin", "Data-Engineers")
  val ReadGroups: Set[String] = Set("Data-Analyst", "Data-Guest", "Data-Default")

  /** Resolves a bearer token to verified group memberships, or None if
    * the token is invalid/expired (the JWTValidationException path,
    * `auth.py:35-38`). */
  trait TokenVerifier {
    def groups(token: String): Option[Seq[String]]
  }

  /** Offline stand-in for the Okta verifier: an explicit token→groups
    * table (e.g. from config/secret storage). */
  final class StaticTokenVerifier(table: Map[String, Seq[String]]) extends TokenVerifier {
    def groups(token: String): Option[Seq[String]] = table.get(token)
  }

  /** One `RoleChecker(allowed_roles)` (`auth.py:9-43`). */
  final class RoleChecker(allowedRoles: Set[String], verifier: TokenVerifier,
                          apiTokens: Set[String]) {
    /** Admit or throw — `__call__` + `verify` (`auth.py:17-43`). */
    def check(bearerToken: Option[String]): String = {
      val token = bearerToken.getOrElse(
        throw AuthError("Invalid authorization code.")) // auth.py:27
      if (apiTokens.contains(token)) return token // superuser, auth.py:32-33
      val groups = verifier.groups(token).getOrElse(
        throw AuthError("This token has either expired or has an unrecognized schema")) // auth.py:38
      val admitted =
        (allowedRoles.contains("admin") && groups.exists(AdminGroups)) ||
        (allowedRoles.contains("read") && groups.exists(g => ReadGroups(g) || AdminGroups(g)))
      if (!admitted)
        throw AuthError("The requestor does not have permission to complete the desired operation.") // auth.py:24
      token
    }
  }

  /** The verb→role table of the facade (`facade.py:30-124`). Mirrored,
    * with one deliberate deviation: the reference gates `delete` as
    * read (`facade.py:41`) alongside admin-gated flush/upsert — an
    * evident slip that leaves the destructive verb behind the weakest
    * role. As with the read-path fix (§8), we implement the evident
    * intent: delete is admin. */
  val VerbRoles: Map[String, String] = Map(
    "list" -> "read",          // facade.py:30
    "describe" -> "read",      // facade.py:33
    "head" -> "read",          // body fetch, facade.py:65
    "delete" -> "admin",       // facade.py:41 gates as read (sic) — deviation, see above
    "flush" -> "admin",        // facade.py:49
    "upsert" -> "admin",       // create_or_replace, facade.py:53
    "downstream" -> "read",    // facade.py:61
    "runByPipelineUuid" -> "admin", // facade.py:72
    "runSingleUse" -> "admin", // facade.py:80
    "running" -> "read",       // facade.py:85
    "logs" -> "admin",         // facade.py:90
    "abort" -> "admin",        // facade.py:95
    "dispatch" -> "admin",     // dispatcher/event, facade.py:100
    "history" -> "read",       // facade.py:106
    "incubationUpdate" -> "admin", // facade.py:109
    "incubationDelete" -> "admin", // facade.py:116
    "incubationFlush" -> "admin",  // facade.py:120
    "sysConfig" -> "read"      // facade.py:124
  )

  /** Policy = verifier + API tokens; yields a per-verb gate. */
  final class Policy(verifier: TokenVerifier, apiTokens: Set[String]) {
    private val checkers: Map[String, RoleChecker] = VerbRoles.map { case (verb, role) =>
      verb -> new RoleChecker(Set(role), verifier, apiTokens)
    }
    /** Throws [[AuthError]] unless `token` may run `verb`. */
    def require(verb: String, token: Option[String]): Unit = {
      checkers.getOrElse(verb,
        throw new IllegalArgumentException(s"unknown verb: $verb")).check(token)
      ()
    }
  }
}

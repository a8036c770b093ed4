package graft.api

/** The auth-gated facade: the role-check decorators of
  * `facade.py:30-124` as one gate over [[GraftApi]], so the engine core
  * stays auth-free (SURVEY §2.a) and a deployment wraps it exactly once.
  * `as(token)` is the request's bearer credential; a caller gates a verb
  * through [[Auth.Policy]] with `can` before any other work, then calls
  * the [[GraftApi]] verb directly.
  */
final class SecuredGraftApi(val api: GraftApi, policy: Auth.Policy) {

  def as(token: String): Session = new Session(Some(token))
  def anonymous: Session = new Session(None)

  final class Session private[SecuredGraftApi] (token: Option[String]) {
    /** Authorize `verb` or throw [[Auth.AuthError]] — before parsing a
      * body, resolving a parameter or taking a lock, so a rejected
      * request costs no driver work (the reference's FastAPI dependency
      * order; r7 review). */
    def can(verb: String): Unit = policy.require(verb, token)
  }
}

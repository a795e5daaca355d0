package graft.sparql

import scala.util.DynamicVariable

/** Execution policy for SPARQL 1.1 Federated Query (`SERVICE`).
  *
  * `SERVICE` makes the *server* originate an HTTP request to an IRI taken
  * from the (untrusted) query text — a classic server-side request forgery
  * vector when queries arrive over the network. Programmatic/CLI callers
  * keep the permissive default (any http/https endpoint); the HTTP
  * [[graft.http.Endpoint]] runs request handling under
  * [[Federation.withPolicy]] so federation is DENIED unless the endpoint
  * was constructed with an explicit allow predicate.
  *
  * The policy is a [[DynamicVariable]]: it scopes to the executing thread
  * (and the [[PlanCache]] keys on [[keyPrefix]], so a plan built
  * under one policy is never served under another).
  */
object Federation {

  /** permissive default for embedded/CLI use: any http(s) IRI */
  val defaultPolicy: String => Boolean =
    iri => iri.startsWith("http://") || iri.startsWith("https://")

  private val policy =
    new DynamicVariable[(String, String => Boolean)](("open", defaultPolicy))

  /** run `body` with SERVICE restricted to IRIs satisfying `p`;
    * `tag` distinguishes policies in the plan-cache key */
  def withPolicy[A](tag: String, p: String => Boolean)(body: => A): A =
    policy.withValue((tag, p))(body)

  /** run `body` with SERVICE denied outright */
  def denied[A](body: => A): A = withPolicy("deny", _ => false)(body)

  def allowed(iri: String): Boolean = policy.value._2(iri)

  /** plan-cache key component — empty for the default (open) policy so
    * existing cache behavior is unchanged for programmatic callers */
  def keyPrefix: String =
    if (policy.value._1 == "open") "" else s"svc[${policy.value._1}]:"
}

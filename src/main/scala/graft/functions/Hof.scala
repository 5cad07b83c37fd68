package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, element_at, transform}

/** Helpers for composing higher-order-function `Column` expressions. */
object Hof {

  /** Let-binding for HOF composition: evaluate `value` ONCE per row and
    * pass it to `body` as a lambda variable.
    *
    * Why it exists: a computed subexpression referenced inside a
    * higher-order-function lambda is re-evaluated on EVERY lambda
    * iteration — Catalyst does no common-subexpression elimination
    * across HOF calls. Closing over a plain attribute is fine (an O(1)
    * row read), but closing over a computed array or struct multiplies
    * its cost by the iteration count: the declarative winnowing chain
    * was O(len²) hash calls per row (a 10× wall-clock regression on its
    * spec) until its gram array was bound this way.
    *
    * Implementation: a single-element `transform` — the lambda argument
    * is the evaluated value, shared by every use inside `body`.
    */
  def let(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), body), 1)
}

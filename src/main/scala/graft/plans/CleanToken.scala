package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd token cleaner: byte-wise lowercase + keep-[a-z], the
  * EXACT semantics of the reference's per-byte tolower/isalpha loop
  * (reference src/main.cpp:120-133) — one pass, no regex engine.
  *
  * This is also more faithful than the `lower` + `regexp_replace("[^a-z]")`
  * pipeline it replaces: Unicode-aware `lower` can materialize new ASCII
  * letters (e.g. İ → i̇ keeps an 'i'), where the reference's byte loop —
  * and this expression — drop every non-ASCII byte unchanged.
  *
  * Codegen emits a direct static call, so the expression stays inside
  * whole-stage codegen with zero boxing.
  */
case class CleanToken(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    CleanToken.clean(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.CleanToken.clean($c)")

  override protected def withNewChildInternal(newChild: Expression): CleanToken =
    copy(child = newChild)

  override def prettyName: String = "graft_clean_token"
}

object CleanToken {

  /** Single-pass byte loop: A-Z → a-z, keep a-z, drop everything else. */
  def clean(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val out   = new Array[Byte](bytes.length)
    // no "unchanged" shortcut: n == length also holds when bytes were only
    // lowercased in place, and returning `s` would skip that change
    UTF8String.fromBytes(out, 0, cleanInto(bytes, bytes.length, out))
  }

  /** The byte loop of [[clean]] over `src[0, len)`: writes the kept,
    * lowercased bytes to `dst[0, n)` and returns n. `dst` may be `src`, as
    * the write index never passes the read index.
    */
  def cleanInto(src: Array[Byte], len: Int, dst: Array[Byte]): Int = {
    var n = 0
    var i = 0
    while (i < len) {
      var b = src(i)
      if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
      if (b >= 'a' && b <= 'z') { dst(n) = b; n += 1 }
      i += 1
    }
    n
  }
}

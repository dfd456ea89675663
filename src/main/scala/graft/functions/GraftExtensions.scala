package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point — lets a deployment wire graft's
  * native functions into EVERY session via config, with no code change:
  *
  * {{{
  *   spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * Inside this repo `graft.exec.Session.install` attaches the same
  * functions and `Md5ConvRewrite` to a live session instead (the caller
  * owns session construction); both routes register each function's one
  * [[NativeFunction.build]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    NativeFunction.all.foreach(f => ext.injectFunction(f.description))
    // canonical HOF cosine chains collapse to the fused native expression
    ext.injectOptimizerRule(_ => CosineHofRewrite)
    // single-slice md5 prefix-hash chains collapse to Md5Slice64
    ext.injectOptimizerRule(_ => Md5ConvRewrite)
  }
}

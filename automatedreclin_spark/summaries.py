"""Human-readable result summary — the reference's ``print.mec_rec_lin`` S3
method (methods.R:56-120) as a plain formatter over the result dataclass.
Driver-side only; never triggers distributed work beyond what the result
already materialized (M_est previews use a bounded limit)."""

from __future__ import annotations


def _fmt_params(df) -> str:
    return df.to_string(index=False) if df is not None else "  (none)"


def summarize_mec(res) -> str:
    """print.mec_rec_lin analogue (methods.R:56-120)."""
    lines = [
        "Unsupervised maximum entropy classification for record linkage",
        f"  comparison pairs (n): {res.n}",
        f"  estimated matches (n_M): {res.n_M_est:.6f}",
        f"  iterations: {res.n_iter}  [{res.convergence_reason}]",
        f"  set construction: {res.set_construction}"
        + (f"  (bisection iters: {res.iter_bisection})" if res.iter_bisection else ""),
        f"  FLR est: {res.flr_est:.6f}   MMR est: {res.mmr_est:.6f}",
    ]
    for label, tbl in (("binary", res.b_params),
                       ("continuous parametric", res.cpar_params),
                       ("continuous nonparametric", res.cnonpar_params),
                       ("hit-miss", res.hm_params)):
        if tbl is not None:
            lines += [f"  {label} parameters:", _fmt_params(tbl)]
    if res.eval_metrics is not None:
        lines += [
            "  Evaluation metrics:",
            f"    FLR: {res.eval_metrics['FLR']:.6f}   MMR: {res.eval_metrics['MMR']:.6f}",
            f"    confusion [[TP, FN], [FP, TN]]: {res.confusion}",
        ]
    preview = res.M_est.limit(6).toPandas()
    lines += ["  M_est (top 6):", preview.to_string(index=False)]
    return "\n".join(lines)

"""Black-Scholes sensitivities (carved beside quant_pricing.py, which is
at the 1.5k module rule): the closed-form Greeks over the same option
grid q_black_scholes prices — the hedging layer (delta/gamma for the
replicating portfolio, vega for vol risk, theta for carry, rho for
rates) with the put-call-parity delta identity checked in-relation.
"""

from __future__ import annotations

from bigdatainfinance1_spark.operators.quant_pricing import (
    BS_PART_CAP,
    BS_RATE,
    BS_TENOR,
    _norm_cdf_sql,
)
from bigdatainfinance1_spark.registry import sql_query

# ---------------------------------------------------------------------------
# q_bs_greeks — closed-form delta/gamma/vega/theta/rho
# ---------------------------------------------------------------------------

_GREEKS_SQL = f"""
    WITH opt AS (
      SELECT p_partkey,
             p_retailprice AS s,
             CAST(CAST(round(p_retailprice * 100) AS BIGINT)
                  * (90 + (p_partkey % 21)) AS DOUBLE) / 10000.0 AS k,
             CAST(0.15 + 0.01 * (p_size % 20) AS DOUBLE) AS sigma
      FROM part
      WHERE p_partkey <= {BS_PART_CAP}
    ),
    d AS (
      SELECT p_partkey, s, k, sigma,
             (ln(s / k) + ({BS_RATE} + sigma * sigma / 2.0) * {BS_TENOR})
               / (sigma * sqrt({BS_TENOR})) AS d1,
             (ln(s / k) + ({BS_RATE} + sigma * sigma / 2.0) * {BS_TENOR})
               / (sigma * sqrt({BS_TENOR})) - sigma * sqrt({BS_TENOR}) AS d2
      FROM opt
    ),
    n AS (
      SELECT p_partkey, s, k, sigma, d1, d2,
             {_norm_cdf_sql('d1')} AS nd1,
             {_norm_cdf_sql('d2')} AS nd2,
             exp(-d1 * d1 / 2.0) / sqrt(2.0 * pi()) AS pd1
      FROM d
    )
    SELECT p_partkey,
           s AS spot, round(k, 4) AS strike, round(sigma, 2) AS sigma,
           round(nd1, 6) AS call_delta,
           round(nd1 - 1.0, 6) AS put_delta,
           round(pd1 / (s * sigma * sqrt({BS_TENOR})), 8) AS gamma,
           round(s * pd1 * sqrt({BS_TENOR}) / 100.0, 6) AS vega_per_pct,
           round((-s * pd1 * sigma / (2.0 * sqrt({BS_TENOR}))
                  - {BS_RATE} * k * exp(-{BS_RATE} * {BS_TENOR}) * nd2) / 365.0, 6)
             AS theta_per_day,
           round(k * {BS_TENOR} * exp(-{BS_RATE} * {BS_TENOR}) * nd2 / 100.0, 6)
             AS rho_per_pct,
           round(nd1 - (nd1 - 1.0), 6) = 1.0 AS parity_delta_ok
    FROM n
    ORDER BY p_partkey
"""


sql_query(
    "q_bs_greeks", _GREEKS_SQL, tags=("finance", "quant"),
    doc="""Closed-form Black-Scholes Greeks for q_black_scholes' option grid:
    call/put delta (N(d1), N(d1)-1 — their difference is EXACTLY 1 by
    put-call parity, asserted per row), gamma (shared by call and put),
    vega per vol point, theta per calendar day (the carry a desk quotes),
    and rho per rate point — the hedging panel that turns q_black_scholes
    prices and q_implied_vol calibrations into positions. The normal pdf
    is one exp/sqrt expression; the CDF is the shared Abramowitz-Stegun
    Horner chain (quant_pricing._norm_cdf_sql), so both engines evaluate
    identical doubles everywhere.

    ONE SQL text runs verbatim on both engines (the q_share_of_total
    posture). Determinism: inputs are exact grid functions of part
    columns; all Greeks are single closed-form expressions rounded 6/8.
    Scale: embarrassingly parallel row math over the part scan — the
    100 TB shape of portfolio revaluation (a risk run IS a map over
    positions).""",
)

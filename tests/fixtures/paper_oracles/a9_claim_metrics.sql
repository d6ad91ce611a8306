WITH c AS (
    SELECT o_orderpriority AS s, o_orderkey AS k,
           list_distinct([CAST(o_custkey % 10 + 1 AS INT),
                          CAST(o_custkey % 7 + 1 AS INT)]) AS refs
    FROM orders),
e AS (SELECT s, k, r.ref, ((k + r.ref) % 3) > 0 AS ok
      FROM c, UNNEST(refs) AS r(ref)),
per_claim AS (
    SELECT s, k, MAX(CASE WHEN ok THEN 1 ELSE 0 END) AS any_ok,
           COUNT(*) AS n_cit, SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS n_ok
    FROM e GROUP BY s, k),
agg AS (SELECT s, COUNT(*) AS n_claims, SUM(any_ok) AS n_sup,
               SUM(n_cit) AS n_citations, SUM(n_ok) AS n_sup_cit
        FROM per_claim GROUP BY s),
sref AS (SELECT s, COUNT(DISTINCT ref) AS nsr FROM e WHERE ok GROUP BY s),
cref AS (SELECT s, COUNT(DISTINCT ref) AS ncr FROM e GROUP BY s)
SELECT agg.s AS survey_id,
       CAST(n_sup AS DOUBLE) / n_claims AS claim_precision,
       CAST(n_sup_cit AS DOUBLE) / n_citations AS citation_precision,
       CAST(COALESCE(nsr, 0) AS DOUBLE) / 10 AS reference_precision,
       CAST(COALESCE(ncr, 0) AS DOUBLE) / 10 AS reference_coverage,
       CAST(n_citations AS DOUBLE) / n_claims AS avg_citation_per_claim,
       CAST(n_claims AS BIGINT) AS n_claims
FROM agg LEFT JOIN sref ON agg.s = sref.s LEFT JOIN cref ON agg.s = cref.s

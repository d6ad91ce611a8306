WITH bridge AS (
    SELECT DISTINCT c_mktsegment AS survey_id, c_custkey % 4 AS digest_id,
           REGEXP_REPLACE(
             REPLACE(
               REGEXP_REPLACE(
                 REPLACE(LOWER(TRIM(c_name)), '-', '_'),
                 '[^\p{L}\p{N}_\s]', '', 'g'),
               ' ', '_'),
             '_{2,}', '_', 'g') AS bibkey
    FROM customer)
SELECT survey_id, digest_id, bibkey,
       COUNT(*) OVER (PARTITION BY survey_id, digest_id) AS n_members
FROM bridge

WITH d AS (
    SELECT c_mktsegment AS s, c_custkey % 4 AS did,
           CAST(c_nationkey % 3 AS INT) AS pos, MIN(c_name) AS description
    FROM customer GROUP BY 1, 2, 3)
SELECT s AS survey_id, pos,
       STRING_AGG('Paper bibkey: [bib' || did || ']' || chr(10) ||
                  'Digest: ' || chr(10) || description,
                  '--------------------' || chr(10) ORDER BY did) AS description,
       STRING_AGG('bib' || did, ',' ORDER BY did) AS bibkeys
FROM d GROUP BY 1, 2

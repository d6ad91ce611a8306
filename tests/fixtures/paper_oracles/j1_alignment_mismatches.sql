WITH nn AS (
    SELECT r_name, n_name, n_nationkey,
           ROW_NUMBER() OVER (PARTITION BY r_name ORDER BY n_name) AS rn
    FROM nation JOIN region ON n_regionkey = r_regionkey)
SELECT r_name AS survey_id, 'd1' AS digest_id, CAST(rn AS INT) AS pos,
       'title mismatch' AS reason
FROM nn WHERE n_nationkey % 5 = 0

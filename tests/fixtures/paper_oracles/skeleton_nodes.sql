WITH nn AS (
    SELECT r_name, n_name,
           ROW_NUMBER() OVER (PARTITION BY r_name ORDER BY n_name) AS rn
    FROM nation JOIN region ON n_regionkey = r_regionkey)
SELECT r_name AS survey_id, 0 AS pos, '0' AS node_path, 0 AS depth,
       'Survey of ' || r_name AS title, '' AS construction, '' AS analysis
FROM region
UNION ALL
SELECT r_name, CAST(rn AS INT), '0.' || CAST(rn - 1 AS VARCHAR), 1, n_name,
       'focus on ' || n_name, 'analysis of ' || n_name
FROM nn

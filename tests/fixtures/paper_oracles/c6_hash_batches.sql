SELECT p_partkey,
       CAST(FLOOR((ROW_NUMBER() OVER (
           ORDER BY md5(CAST(p_partkey AS VARCHAR) || '#42'),
                    p_partkey) - 1) / 7) AS INT) AS group_id
FROM part

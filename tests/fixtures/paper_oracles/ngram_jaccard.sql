WITH src AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000,
           text || ' ' || CASE doc_id % 5
               WHEN 0 THEN 'zznovel0'
               WHEN 1 THEN 'zznovel0 zznovel1'
               WHEN 2 THEN 'zznovel0 zznovel1 zznovel2'
               WHEN 3 THEN 'zznovel0 zznovel1 zznovel2 zznovel3'
               ELSE 'zznovel0 zznovel1 zznovel2 zznovel3 zznovel4'
           END
    FROM documents),
tok AS (
    SELECT doc_id,
           unnest(string_split_regex(trim(text), '\s+')) AS w,
           generate_subscripts(
               string_split_regex(trim(text), '\s+'), 1) AS ord
    FROM src),
grams AS (
    SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
    FROM tok a
    JOIN tok b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
    JOIN tok c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, COUNT(*) AS ni
    FROM grams a
    JOIN grams m ON m.doc_id = a.doc_id + 1000000 AND m.g = a.g
    WHERE a.doc_id < 1000000
    GROUP BY a.doc_id)
SELECT d.doc_id AS id_a,
       CAST(COALESCE(ni, 0) AS DOUBLE)
           / (ca.n + cb.n - COALESCE(ni, 0)) AS jaccard,
       (CAST(COALESCE(ni, 0) AS DOUBLE)
           / (ca.n + cb.n - COALESCE(ni, 0))) >= 0.8 AS is_neardup
FROM documents d
JOIN cnt ca ON ca.doc_id = d.doc_id
JOIN cnt cb ON cb.doc_id = d.doc_id + 1000000
LEFT JOIN inter ON inter.id_a = d.doc_id

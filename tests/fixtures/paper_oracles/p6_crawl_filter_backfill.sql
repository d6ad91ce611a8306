WITH crawl AS (
    SELECT source AS topic,
           'https://example.com/' || CAST(doc_id AS VARCHAR) AS url,
           text AS txt, (doc_id * 37) % 101 AS similarity
    FROM documents),
valid AS (SELECT * FROM crawl WHERE LENGTH(txt) BETWEEN 200 AND 1500),
passed AS (SELECT topic, url, similarity FROM valid WHERE similarity >= 80),
need AS (SELECT topic, COUNT(*) AS np FROM passed GROUP BY topic),
bf AS (
    SELECT v.topic, v.url, v.similarity,
           ROW_NUMBER() OVER (PARTITION BY v.topic
               ORDER BY v.similarity DESC, LENGTH(v.txt) DESC, v.url ASC) AS rn,
           COALESCE(n.np, 0) AS np
    FROM valid v LEFT JOIN need n USING (topic)
    WHERE v.similarity < 80)
SELECT topic, url, similarity FROM passed
UNION ALL
SELECT topic, url, similarity FROM bf WHERE rn <= 5 - np

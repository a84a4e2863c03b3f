SELECT EventId, now() AS At
FROM StormEvents
WHERE EventId = 1
